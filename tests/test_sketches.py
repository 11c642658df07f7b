"""CountMinSketch / HyperLogLogSketch: estimate guarantees, exact merge,
model-data round trips, persistence."""

import math

import pytest
from pyspark.sql import functions as F

from flink_ml_spark.api import Stage
from flink_ml_spark.llmdata import (CountMinSketch, CountMinSketchModel,
                                    HyperLogLogSketch,
                                    HyperLogLogSketchModel)


@pytest.fixture()
def zipf_df(spark):
    """Zipf-ish key stream: key k appears ~600/k times, 60 keys."""
    rows = [(f"key{k}",) for k in range(1, 61) for _ in range(600 // k)]
    return spark.createDataFrame(rows, "tok string")


def _true_counts(df):
    return {r["tok"]: r["count"]
            for r in df.groupBy("tok").count().collect()}


# ------------------------------------------------------------------- CMS

def test_cms_never_underestimates(spark, zipf_df):
    m = CountMinSketch(inputCol="tok", depth=4, width=256).fit(zipf_df)
    true = _true_counts(zipf_df)
    for k, c in true.items():
        assert m.estimate(k) >= c
    # with 60 keys in 4x256 cells, most estimates are exact
    exact = sum(1 for k, c in true.items() if m.estimate(k) == c)
    assert exact >= 50


def test_cms_transform_matches_driver_estimate(spark, zipf_df):
    m = CountMinSketch(inputCol="tok", depth=3, width=128).fit(zipf_df)
    m.set_(outputCol="est")
    keys = zipf_df.distinct()
    got = {r["tok"]: r["est"]
           for r in m.transform(keys)[0].collect()}
    for k in got:
        assert got[k] == m.estimate(k), k


def test_cms_broadcast_join_path_matches_literal(spark, zipf_df):
    from flink_ml_spark.llmdata import sketches as sk
    m = CountMinSketch(inputCol="tok", depth=3, width=128).fit(zipf_df)
    m.set_(outputCol="est")
    keys = zipf_df.distinct()
    lit = {r["tok"]: r["est"] for r in m.transform(keys)[0].collect()}
    saved = sk._LITERAL_CELL_LIMIT
    try:
        sk._LITERAL_CELL_LIMIT = 0  # force the join path
        joined = {r["tok"]: r["est"] for r in m.transform(keys)[0].collect()}
    finally:
        sk._LITERAL_CELL_LIMIT = saved
    assert lit == joined


def test_cms_merge_equals_union_sketch(spark, zipf_df):
    a = zipf_df.filter(F.crc32(F.col("tok")) % 2 == 0)
    b = zipf_df.filter(F.crc32(F.col("tok")) % 2 == 1)
    est = CountMinSketch(inputCol="tok", depth=4, width=256)
    merged = est.fit(a).merge(est.fit(b))
    full = est.fit(zipf_df)
    assert merged.model_data["cells"] == full.model_data["cells"]
    with pytest.raises(ValueError, match="width"):
        est.fit(a).merge(
            CountMinSketch(inputCol="tok", depth=4, width=128).fit(b))


def test_cms_model_data_roundtrip_and_persistence(spark, zipf_df, tmp_path):
    m = CountMinSketch(inputCol="tok", depth=2, width=64).fit(zipf_df)
    (md,) = m.get_model_data(spark)
    fresh = CountMinSketchModel(inputCol="tok", depth=2, width=64, seed=42)
    fresh.set_model_data(md)
    assert fresh.model_data["cells"] == m.model_data["cells"]
    p = str(tmp_path / "cms")
    m.save(p)
    loaded = Stage.load(spark, p)
    assert loaded.model_data["cells"] == m.model_data["cells"]
    assert loaded.estimate("key1") == m.estimate("key1")


# ------------------------------------------------------------------- HLL

def test_hll_estimate_within_error_bound(spark):
    n = 5000
    df = spark.createDataFrame([(f"item-{i}",) for i in range(n)],
                               "tok string")
    m = HyperLogLogSketch(inputCol="tok", precision=9).fit(df)
    est = m.estimate()
    # 1.04/sqrt(512) ~ 4.6%; allow 4 sigma
    assert abs(est - n) / n < 4 * 1.04 / math.sqrt(512), est


def test_hll_duplicates_do_not_move_registers(spark):
    df = spark.createDataFrame([(f"x{i % 50}",) for i in range(5000)],
                               "tok string")
    once = spark.createDataFrame([(f"x{i}",) for i in range(50)],
                                 "tok string")
    a = HyperLogLogSketch(inputCol="tok", precision=8).fit(df)
    b = HyperLogLogSketch(inputCol="tok", precision=8).fit(once)
    assert a.model_data["registers"] == b.model_data["registers"]


def test_hll_merge_equals_union_sketch(spark):
    df = spark.createDataFrame([(f"item-{i}",) for i in range(2000)],
                               "tok string")
    a = df.filter(F.crc32(F.col("tok")) % 2 == 0)
    b = df.filter(F.crc32(F.col("tok")) % 2 == 1)
    est = HyperLogLogSketch(inputCol="tok", precision=8)
    merged = est.fit(a).merge(est.fit(b))
    full = est.fit(df)
    assert merged.model_data["registers"] == full.model_data["registers"]
    with pytest.raises(ValueError, match="precision"):
        est.fit(a).merge(
            HyperLogLogSketch(inputCol="tok", precision=9).fit(b))


def test_hll_model_data_roundtrip_and_persistence(spark, tmp_path):
    df = spark.createDataFrame([(f"item-{i}",) for i in range(500)],
                               "tok string")
    m = HyperLogLogSketch(inputCol="tok", precision=7).fit(df)
    (md,) = m.get_model_data(spark)
    fresh = HyperLogLogSketchModel(inputCol="tok", precision=7)
    fresh.set_model_data(md)
    assert fresh.model_data["registers"] == m.model_data["registers"]
    assert fresh.estimate() == m.estimate()
    p = str(tmp_path / "hll")
    m.save(p)
    loaded = Stage.load(spark, p)
    assert loaded.model_data["registers"] == m.model_data["registers"]


# ------------------------------------------------------ FrequentLineFilter

def test_frequent_line_filter_drops_verified_boilerplate(spark, tmp_path):
    from flink_ml_spark.llmdata import FrequentLineFilter
    from flink_ml_spark.api import Stage
    rows = [(i, f"unique body {i}\nCOOKIE BANNER\nNAV FOOTER")
            for i in range(20)] + [(100, "no banner here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = FrequentLineFilter(idCol="doc_id", textCol="text",
                           minCount=10).fit(df)
    assert m.model_data["boilerplate"] == ["COOKIE BANNER", "NAV FOOTER"]
    got = {r["doc_id"]: r["clean"] for r in m.transform(df)[0].collect()}
    assert got[3] == "unique body 3"
    assert got[100] == "no banner here"
    # servable + persistence parity
    local = m.transform_local(df.toPandas())
    assert list(local["clean"]) == [got[r] for r in local["doc_id"]]
    p = str(tmp_path / "flf")
    m.save(p)
    loaded = Stage.load(spark, p)
    assert loaded.model_data["boilerplate"] == m.model_data["boilerplate"]


def test_frequent_line_filter_loads_save_with_retired_params(spark,
                                                            tmp_path):
    """A FrequentLineFilter saved while it still carried the count-min
    gate's depth/width/seed params loads: each is skipped with a warning
    naming it.  Any other unknown param still fails the load."""
    import json
    import os
    from flink_ml_spark.llmdata import FrequentLineFilter
    p = str(tmp_path / "flf_old")
    FrequentLineFilter(minCount=7).save(p)
    meta_path = os.path.join(p, "metadata")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["paramMap"]["width"] = 4096
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.warns(UserWarning, match="'width'"):
        loaded = Stage.load(spark, p)
    assert isinstance(loaded, FrequentLineFilter)
    assert loaded.get_("minCount") == 7
    meta["paramMap"]["bogus"] = 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.warns(UserWarning), pytest.raises(KeyError, match="bogus"):
        Stage.load(spark, p)


def test_frequent_line_filter_equals_exact_filter(spark):
    """The drop set is exactly the line-frequency filter, on a corpus
    whose unique-line long tail dwarfs the frequent lines, with lines
    just below and just at the threshold."""
    from flink_ml_spark.llmdata import FrequentLineFilter
    rows = [(i, f"body {i % 37}\nBANNER\ntail {i}\nother tail {i}"
             + ("\nNEAR" if i < 29 else "") + ("\nEDGE" if i < 30 else ""))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = FrequentLineFilter(idCol="doc_id", textCol="text",
                           minCount=30).fit(df)
    exact = {r["ln"] for r in
             df.selectExpr("explode(split(text, '\\n')) AS ln")
             .groupBy("ln").count().filter("count >= 30").collect()}
    assert set(m.model_data["boilerplate"]) == exact
    assert exact == {"BANNER", "EDGE"}


def test_frequent_line_filter_fit_runs_no_python_udf(spark, jobs_of):
    """fit is one JVM-side pass: no query it runs holds a Python UDF
    (the former sketch gate hashed every line in an Arrow UDF, twice)."""
    from flink_ml_spark.llmdata import FrequentLineFilter
    rows = [(i, f"unique {i}\nBANNER") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m, jobs = jobs_of("flf-fit-no-python-udf", lambda: FrequentLineFilter(
        idCol="doc_id", textCol="text", minCount=10).fit(df))
    assert m.model_data["boilerplate"] == ["BANNER"]
    assert jobs
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60000)
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 50), 50)  # the latest ones
    plans = []
    for k in range(execs.size()):
        e = execs.apply(k)
        ids = e.jobs().keySet()
        if any(ids.contains(j) for j in jobs):
            plans.append(e.physicalPlanDescription())
    assert plans
    for plan in plans:
        assert "EvalPython" not in plan and "PythonUDF" not in plan, plan


def test_frequent_line_filter_broadcast_path_matches_literal(spark):
    """Past _LINE_SET_LITERAL_LIMIT the transform switches from the
    per-row literal array scan to a broadcast set + one Arrow pass; the
    two paths must be indistinguishable, and the large-set plan must not
    embed the drop set as a literal CreateArray (VERDICT r08 item 2)."""
    from flink_ml_spark.llmdata import FrequentLineFilter
    from flink_ml_spark.llmdata import sketches as sk
    rows = [(i, f"keep {i}\nBANNER A\nBANNER B\nkeep tail {i}")
            for i in range(30)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = FrequentLineFilter(idCol="doc_id", textCol="text",
                           minCount=10).fit(df)
    lit = {r["doc_id"]: r["clean"] for r in m.transform(df)[0].collect()}
    saved = sk._LINE_SET_LITERAL_LIMIT
    try:
        sk._LINE_SET_LITERAL_LIMIT = 1  # force the broadcast-set path
        out = m.transform(df)[0]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BANNER A" not in plan  # no literal drop set in the plan
        assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
        got = {r["doc_id"]: r["clean"] for r in out.collect()}
    finally:
        sk._LINE_SET_LITERAL_LIMIT = saved
    assert got == lit
    assert got[99] is None  # null text stays null on both paths


def test_frequent_line_filter_broadcast_path_follows_model_data(spark):
    """The broadcast-set path must filter with the model's CURRENT drop
    set: swapping model_data on the same instance may not reuse the
    broadcast cached for the old set."""
    from flink_ml_spark.llmdata import FrequentLineFilter
    from flink_ml_spark.llmdata import sketches as sk
    rows = [(i, f"keep {i}\nBANNER A\nBANNER B") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = FrequentLineFilter(idCol="doc_id", textCol="text",
                           minCount=10).fit(df)
    saved = sk._LINE_SET_LITERAL_LIMIT
    try:
        sk._LINE_SET_LITERAL_LIMIT = 1  # force the broadcast-set path
        first = {r["doc_id"]: r["clean"]
                 for r in m.transform(df)[0].collect()}
        m.model_data = {"boilerplate": ["BANNER A", "keep 3"],
                        "minCount": 10}
        second = {r["doc_id"]: r["clean"]
                  for r in m.transform(df)[0].collect()}
    finally:
        sk._LINE_SET_LITERAL_LIMIT = saved
    assert first[3] == "keep 3"
    assert second[3] == "BANNER B"
    assert second[4] == "keep 4\nBANNER B"


def test_cms_join_path_null_key_estimate_is_null(spark, zipf_df):
    """Null keys must get NULL estimates on BOTH plan paths (the join
    path used to coalesce missing lookups to 0 — ADVICE r08)."""
    from flink_ml_spark.llmdata import sketches as sk
    m = CountMinSketch(inputCol="tok", depth=3, width=128).fit(zipf_df)
    m.set_(outputCol="est")
    withnull = zipf_df.limit(3).union(
        spark.createDataFrame([(None,)], "tok string"))
    lit = {r["tok"]: r["est"] for r in m.transform(withnull)[0].collect()}
    saved = sk._LITERAL_CELL_LIMIT
    try:
        sk._LITERAL_CELL_LIMIT = 0  # force the join path
        joined = {r["tok"]: r["est"]
                  for r in m.transform(withnull)[0].collect()}
    finally:
        sk._LITERAL_CELL_LIMIT = saved
    assert lit == joined
    assert lit[None] is None and joined[None] is None


def test_frequent_line_filter_cap_guard(spark):
    from flink_ml_spark.llmdata import FrequentLineFilter
    import pytest as pt
    rows = [(i, "A\nB\nC") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pt.raises(ValueError, match="maxBoilerplateLines"):
        FrequentLineFilter(idCol="doc_id", textCol="text", minCount=5,
                           maxBoilerplateLines=2).fit(df)


def test_hll_grouped_registers_match_per_group_fits(spark):
    """Each group's register rows must equal an independent HLL fit of
    that group's keys, and feed set_model_data for estimates."""
    from flink_ml_spark.llmdata import (HyperLogLogSketch,
                                        HyperLogLogSketchModel,
                                        hll_grouped_registers)
    rows = [(f"g{i % 3}", f"k{i % 250}") for i in range(3000)]
    df = spark.createDataFrame(rows, "grp string, tok string")
    grouped = hll_grouped_registers(df, "grp", "tok", precision=7)
    for g in ("g0", "g1", "g2"):
        solo = HyperLogLogSketch(inputCol="tok", precision=7).fit(
            df.filter(F.col("grp") == g))
        regs = {r["bucket"]: r["r"] for r in
                grouped.filter(F.col("group") == g).collect()}
        expect = {b: v for b, v in
                  enumerate(solo.model_data["registers"]) if v}
        assert regs == expect
        rebuilt = HyperLogLogSketchModel(inputCol="tok", precision=7)
        rebuilt.set_model_data(
            grouped.filter(F.col("group") == g)
            .select("bucket", "r"))
        assert rebuilt.estimate() == solo.estimate()
