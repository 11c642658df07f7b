"""DataProfiler / ConstraintGate / CorrelationMatrix vs hand-computed
truths, plan-shape assertions (one-pass, Expand only when exact), and
save/load round-trips."""

import math

import numpy as np
import pytest

from flink_ml_spark.llmdata import ConstraintGate, DataProfiler
from flink_ml_spark.stats import CorrelationMatrix


@pytest.fixture()
def frame(spark):
    rows = [
        (1, "alpha", 10.0, True),
        (2, "beta", 20.0, False),
        (3, None, 30.0, True),
        (4, "", None, None),
        (5, "alpha", 50.0, True),
    ]
    return spark.createDataFrame(
        rows, "id bigint, name string, score double, flag boolean")


def _by_col(out):
    return {r["column"]: r for r in out.collect()}


def test_profiler_stats(frame):
    prof = _by_col(DataProfiler(exactDistinct=True).transform(frame)[0])
    assert set(prof) == {"id", "name", "score", "flag"}
    i = prof["id"]
    assert (i["n_rows"], i["n_null"], i["n_distinct"]) == (5, 0, 5)
    assert i["mean"] == pytest.approx(3.0)
    assert i["stddev"] == pytest.approx(np.std([1, 2, 3, 4, 5], ddof=1))
    assert (i["min_num"], i["max_num"]) == (1.0, 5.0)
    assert i["min_len"] is None and i["n_empty"] is None
    s = prof["score"]
    assert (s["n_rows"], s["n_null"], s["n_distinct"]) == (5, 1, 4)
    assert s["mean"] == pytest.approx(27.5)
    n = prof["name"]
    assert (n["n_null"], n["n_distinct"]) == (1, 3)  # alpha, beta, ''
    assert (n["min_len"], n["max_len"], n["n_empty"]) == (0, 5, 1)
    assert n["mean"] is None
    f = prof["flag"]  # booleans profile as 0/1 numerics
    assert f["mean"] == pytest.approx(0.75)
    assert (f["min_num"], f["max_num"]) == (0.0, 1.0)


def test_profiler_timestamp_as_epoch_ms(spark):
    df = spark.sql("""SELECT * FROM VALUES
        (TIMESTAMP '1970-01-01 00:00:01'),
        (TIMESTAMP '1970-01-01 00:00:03') AS t(ts)""")
    r = _by_col(DataProfiler(exactDistinct=True).transform(df)[0])["ts"]
    assert (r["min_num"], r["max_num"]) == (1000.0, 3000.0)
    assert r["mean"] == pytest.approx(2000.0)


def test_profiler_one_pass_plan(frame):
    """The whole profile is ONE aggregation: approx (HLL) mode must plan
    Expand-free — a single narrow pass with map-side partials; exact
    mode pays the documented multi-count-distinct Expand but still
    exactly one scan of the input."""
    _, _, approx = DataProfiler(exactDistinct=False)._agg_frame(frame)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert plan.count("Scan") <= 1
    _, _, exact = DataProfiler(exactDistinct=True)._agg_frame(frame)
    eplan = exact._jdf.queryExecution().executedPlan().toString()
    assert eplan.count("Scan") <= 1


def test_profiler_approx_close(frame):
    exact = _by_col(DataProfiler(exactDistinct=True).transform(frame)[0])
    approx = _by_col(DataProfiler().transform(frame)[0])
    for c in exact:
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) <= 1


def test_profiler_column_subset_and_persistence(frame, tmp_path):
    p = DataProfiler(columns=["id"], exactDistinct=True)
    p.save(str(tmp_path / "prof"))
    from flink_ml_spark.api import Stage
    p2 = Stage.load(frame.sparkSession, str(tmp_path / "prof"))
    out = p2.transform(frame)[0].collect()
    assert len(out) == 1 and out[0]["column"] == "id"


def test_gate_pass_and_fail(frame):
    gate = ConstraintGate(constraints=[
        {"type": "min_rows", "value": 3},
        {"type": "not_null", "col": "id"},
        {"type": "not_null", "col": "score"},
        {"type": "unique", "col": "id"},
        {"type": "unique", "col": "name"},
        {"type": "max_null_frac", "col": "score", "frac": 0.25},
        {"type": "in_range", "col": "score", "min": 0, "max": 40},
        {"type": "in_set", "col": "name", "allowed": ["alpha", "beta"]},
        {"type": "matches_regex", "col": "name", "pattern": "^a",
         "min_frac": 0.4},
        {"type": "min_distinct", "col": "name", "value": 3},
    ], failOnViolation=False)
    rep = {(r["constraint"], r["column"]): r
           for r in gate.transform(frame)[0].collect()}
    assert rep[("min_rows", None)]["passed"]
    assert rep[("not_null", "id")]["passed"]
    assert rep[("not_null", "score")]["observed"] == 1.0
    assert not rep[("not_null", "score")]["passed"]
    assert rep[("unique", "id")]["passed"]
    # 'alpha' appears twice among non-null names
    assert rep[("unique", "name")]["observed"] == 1.0
    assert not rep[("unique", "name")]["passed"]
    assert rep[("max_null_frac", "score")]["observed"] == pytest.approx(0.2)
    assert rep[("max_null_frac", "score")]["passed"]
    # scores 10,20,30,50 → 3/4 in [0,40]
    assert rep[("in_range", "score")]["observed"] == pytest.approx(0.75)
    assert not rep[("in_range", "score")]["passed"]
    # names alpha,beta,'',alpha → 3/4 in set
    assert rep[("in_set", "name")]["observed"] == pytest.approx(0.75)
    # 2/4 match ^a ≥ 0.4
    assert rep[("matches_regex", "name")]["observed"] == pytest.approx(0.5)
    assert rep[("matches_regex", "name")]["passed"]
    assert rep[("min_distinct", "name")]["observed"] == 3.0
    assert rep[("min_distinct", "name")]["passed"]


def test_gate_check_raises(frame):
    gate = ConstraintGate(constraints=[{"type": "not_null", "col": "score"}])
    with pytest.raises(ValueError, match="not_null"):
        gate.check(frame)
    ok, rows = ConstraintGate(
        constraints=[{"type": "not_null", "col": "id"}]).check(frame)
    assert ok and len(rows) == 1


def test_gate_unknown_type(frame):
    gate = ConstraintGate(constraints=[{"type": "nope", "col": "id"}])
    with pytest.raises(ValueError, match="unknown constraint"):
        gate.transform(frame)


def test_gate_empty_input(spark):
    df = spark.createDataFrame([], "id bigint")
    gate = ConstraintGate(constraints=[
        {"type": "min_rows", "value": 1},
        {"type": "max_null_frac", "col": "id", "frac": 0.5},
        {"type": "in_range", "col": "id", "min": 0, "max": 1},
    ], failOnViolation=False)
    rep = {r["constraint"]: r for r in gate.transform(df)[0].collect()}
    assert not rep["min_rows"]["passed"]
    # vacuous fraction rules pass on empty input
    assert rep["max_null_frac"]["passed"]
    assert rep["in_range"]["passed"]


def test_gate_persistence(frame, tmp_path):
    gate = ConstraintGate(constraints=[{"type": "unique", "col": "id"}])
    gate.save(str(tmp_path / "gate"))
    from flink_ml_spark.api import Stage
    g2 = Stage.load(frame.sparkSession, str(tmp_path / "gate"))
    assert g2.get_("constraints") == [{"type": "unique", "col": "id"}]
    assert g2.transform(frame)[0].collect()[0]["passed"]


def test_profiler_grouped(spark):
    rows = [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = DataProfiler(columns=["x"], exactDistinct=True,
                       groupByCol="g").transform(df)[0].collect()
    by_g = {r["group"]: r for r in out}
    assert set(by_g) == {"a", "b"}
    assert by_g["a"]["mean"] == pytest.approx(2.0)
    assert (by_g["a"]["n_rows"], by_g["a"]["n_null"]) == (2, 0)
    assert (by_g["b"]["n_rows"], by_g["b"]["n_null"]) == (2, 1)
    assert by_g["b"]["mean"] == pytest.approx(10.0)
    # ungrouped keeps a null group column
    whole = DataProfiler(columns=["x"]).transform(df)[0].collect()
    assert whole[0]["group"] is None


def test_profiler_quantiles(spark):
    df = spark.createDataFrame([(float(x),) for x in [1, 2, 3, 4, 10]],
                               "x double")
    r = _by_col(DataProfiler(quantiles=[0.25, 0.5, 0.95],
                             exactQuantiles=True).transform(df)[0])["x"]
    assert r["quantiles"] == pytest.approx([2.0, 3.0, 8.8])
    # sketch mode exists and is sane on tiny input
    ra = _by_col(DataProfiler(quantiles=[0.5]).transform(df)[0])["x"]
    assert ra["quantiles"][0] in (3.0,)
    # non-numeric columns carry no quantile block
    ds = spark.createDataFrame([("a",)], "s string")
    rs = _by_col(DataProfiler(quantiles=[0.5]).transform(ds)[0])["s"]
    assert rs["quantiles"] is None


def test_frequent_items_exact_scalar(spark):
    # zipf-ish: item 'w0' 100x, 'w1' 50x, ..., plus a long unique tail
    rows = ([("w0",)] * 100 + [("w1",)] * 50 + [("w2",)] * 25
            + [(f"tail{i}",) for i in range(200)])
    df = spark.createDataFrame(rows, "items string").repartition(7)
    from flink_ml_spark.llmdata import FrequentItemsProfiler
    out = FrequentItemsProfiler(itemsCol="items", k=3,
                                capacity=64).transform(df)[0].collect()
    assert [(r["item"], r["freq"]) for r in out] == [
        ("w0", 100), ("w1", 50), ("w2", 25)]
    assert all(r["guaranteed"] for r in out)


def test_frequent_items_array_column(spark):
    rows = [(["a", "b", "a"],), (["a", "c"],), (["b"],), ([],), (None,)]
    df = spark.createDataFrame(rows, "items array<string>")
    from flink_ml_spark.llmdata import FrequentItemsProfiler
    out = FrequentItemsProfiler(itemsCol="items", k=2,
                                capacity=16).transform(df)[0].collect()
    assert [(r["item"], r["freq"]) for r in out] == [("a", 3), ("b", 2)]


def test_frequent_items_matches_exact_groupby(spark, sf_dir):
    """Two-pass MG output == the exact full-shuffle top-k on real text."""
    from flink_ml_spark.llmdata import FrequentItemsProfiler
    from flink_ml_spark.llmdata.textanalysis import _tokens
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(_tokens(F.coalesce("text", F.lit(""))).alias("t"))
    got = FrequentItemsProfiler(itemsCol="t", k=10,
                                capacity=2048).transform(toks)[0].collect()
    truth = (toks.select(F.explode("t").alias("i")).groupBy("i").count()
             .orderBy(F.col("count").desc(), "i").limit(10).collect())
    assert [(r["item"], r["freq"]) for r in got] == \
        [(r["i"], r["count"]) for r in truth]
    assert all(r["guaranteed"] for r in got)


def test_frequent_items_guarantee_flag_degrades(spark):
    """With capacity far below the distinct count and a flat
    distribution, the run must self-report no exactness guarantee."""
    rows = [(f"t{i % 97}",) for i in range(970)]
    df = spark.createDataFrame(rows, "items string").repartition(5)
    from flink_ml_spark.llmdata import FrequentItemsProfiler
    out = FrequentItemsProfiler(itemsCol="items", k=5,
                                capacity=8).transform(df)[0].collect()
    assert (not out) or not out[0]["guaranteed"]


def test_frequent_items_empty(spark):
    df = spark.createDataFrame([], "items string")
    from flink_ml_spark.llmdata import FrequentItemsProfiler
    out = FrequentItemsProfiler(itemsCol="items").transform(df)[0]
    assert out.count() == 0


def test_mg_shrink_bound():
    """Property: after shrink, at most capacity counters remain and each
    kept count is an under-estimate by at most the subtracted pivot."""
    from flink_ml_spark.llmdata.profiler import _mg_shrink
    counts = {f"i{i}": i + 1 for i in range(100)}
    _mg_shrink(counts, 10)
    assert len(counts) <= 10
    # survivors are the largest originals, shifted down uniformly
    assert set(counts) == {f"i{i}" for i in range(90, 100)}
    assert counts["i99"] == 100 - 90


def test_suggest_constraints_lifecycle(spark, frame):
    """profile → suggest → gate: the suggested suite must accept the
    batch it was derived from, and a corrupted batch must fail it."""
    from flink_ml_spark.llmdata import ConstraintGate, suggest_constraints
    prof = DataProfiler(exactDistinct=True).transform(frame)[0].collect()
    suite = suggest_constraints(prof, slack=0.1)
    types = {(c["type"], c.get("col")) for c in suite}
    assert ("min_rows", None) in types
    assert ("not_null", "id") in types
    assert ("unique", "id") in types           # all-distinct, no nulls
    assert ("max_null_frac", "score") in types  # has a null
    assert ("in_range", "id") in types
    ok, _ = ConstraintGate(constraints=suite,
                           failOnViolation=False).check(frame)
    assert ok
    # corrupt: out-of-range ids and a duplicated id
    bad = spark.createDataFrame(
        [(999, "x", 1.0, True), (999, "y", 2.0, True)],
        "id bigint, name string, score double, flag boolean")
    ok, report = ConstraintGate(constraints=suite,
                                failOnViolation=False).check(bad)
    assert not ok
    failed = {(r["constraint"], r["column"]) for r in report
              if not r["passed"]}
    assert ("in_range", "id") in failed
    assert ("unique", "id") in failed


def test_constraint_suggester_operator(spark, frame):
    """The packaged suggester: adds in_set member fetches on top of
    suggest_constraints, skips id-shaped and over-cap columns, and its
    suite gates the source batch clean."""
    from flink_ml_spark.llmdata import ConstraintGate, ConstraintSuggester
    sug = ConstraintSuggester(maxSetSize=8)
    suite = sug.suggest(frame)
    by_type = {}
    for c in suite:
        by_type.setdefault(c["type"], []).append(c)
    # 'name' has few distinct values -> in_set with the sorted members;
    # 'id' is unique -> never an in_set even though distinct ≤ cap... it
    # exceeds the cap anyway only when rows > 8; either way no id set
    sets = {c["col"]: c["allowed"] for c in by_type.get("in_set", [])}
    assert "name" in sets and sets["name"] == sorted(sets["name"])
    assert "id" not in sets
    ok, _ = ConstraintGate(constraints=suite,
                           failOnViolation=False).check(frame)
    assert ok
    # the relation view mirrors the suite
    rel = sug.transform(frame)[0].collect()
    rel_types = {(r["ctype"], r["col"]) for r in rel}
    assert ("min_rows", None) in rel_types
    assert ("in_set", "name") in rel_types
    members = {r["col"]: r["members"] for r in rel
               if r["ctype"] == "in_set"}
    assert members["name"] == ",".join(sets["name"])


def test_suggest_constraints_rejects_grouped(spark, frame):
    from flink_ml_spark.llmdata import suggest_constraints
    prof = DataProfiler(columns=["score"], groupByCol="name") \
        .transform(frame)[0].collect()
    with pytest.raises(ValueError, match="ungrouped"):
        suggest_constraints(prof)


def test_streaming_quality_gate_routing(spark):
    from flink_ml_spark.streaming import StreamingQualityGate
    gate = StreamingQualityGate(constraints=[
        {"type": "in_range", "col": "v", "min": 0, "max": 10}])
    clean = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    dirty = spark.createDataFrame([(1.0,), (99.0,)], "v double")
    ok, rep = gate.process_batch(clean)
    assert ok and rep[0]["passed"]
    ok, rep = gate.process_batch(dirty)
    assert not ok and rep[0]["observed"] == pytest.approx(0.5)

    sunk, quarantined, verdicts = [], [], []
    fb = gate.foreach_batch(
        sink_fn=lambda df, bid: sunk.append(bid),
        quarantine_fn=lambda df, bid: quarantined.append(bid),
        report_fn=lambda rows, bid, passed: verdicts.append((bid, passed)))
    fb(clean, 0)
    fb(dirty, 1)
    assert sunk == [0] and quarantined == [1]
    assert verdicts == [(0, True), (1, False)]


def test_streaming_quality_gate_fail_mode(spark):
    from flink_ml_spark.streaming import StreamingQualityGate
    gate = StreamingQualityGate(
        constraints=[{"type": "not_null", "col": "v"}], on_violation="fail")
    dirty = spark.createDataFrame([(None,)], "v double")
    with pytest.raises(ValueError, match="not_null"):
        gate.process_batch(dirty)
    with pytest.raises(ValueError):
        StreamingQualityGate(constraints=[{"type": "not_null", "col": "v"}],
                             on_violation="explode")


def test_corr_matrix_known(spark):
    # y = 2x exactly; z anti-correlated with x; w constant
    rows = [([float(x), 2.0 * x, float(-x), 1.0],) for x in range(1, 9)]
    df = spark.createDataFrame(rows, "features array<double>")
    out = CorrelationMatrix(featuresCol="features").transform(df)[0]
    c = {(r["i"], r["j"]): r["corr"] for r in out.collect()}
    assert len(c) == 10  # 4*5/2 upper triangle
    assert c[(0, 0)] == pytest.approx(1.0)
    assert c[(0, 1)] == pytest.approx(1.0)
    assert c[(0, 2)] == pytest.approx(-1.0)
    assert c[(1, 2)] == pytest.approx(-1.0)
    assert c[(0, 3)] is None and c[(3, 3)] is None  # zero variance


def test_corr_matrix_vs_numpy(spark):
    rng = np.random.RandomState(7)
    X = rng.randn(200, 5)
    X[:, 3] = 0.7 * X[:, 0] + 0.3 * X[:, 3]
    df = spark.createDataFrame([(r.tolist(),) for r in X],
                               "features array<double>")
    out = CorrelationMatrix(featuresCol="features").transform(df)[0]
    got = {(r["i"], r["j"]): r["corr"] for r in out.collect()}
    truth = np.corrcoef(X.T)
    for (i, j), v in got.items():
        assert v == pytest.approx(truth[i, j], abs=1e-9)


def test_diversity_profiler_exact(spark):
    from flink_ml_spark.llmdata import DiversityProfiler
    df = spark.createDataFrame(
        [(1, "g1", "a b a"), (2, "g1", "a b"), (3, "g2", "x x x x")],
        "id long, g string, text string")
    rows = {r["g"]: r for r in DiversityProfiler(
        inputCol="text", groupByCol="g", exactDistinct=True)
        .transform(df)[0].collect()}
    g1 = rows["g1"]
    # g1: tokens a b a | a b -> 5 tokens, 2 distinct; bigrams
    # "a b","b a","a b" -> 3 bigrams, 2 distinct
    assert (g1["n_tokens"], g1["distinct_tokens"]) == (5, 2)
    assert (g1["n_bigrams"], g1["distinct_bigrams"]) == (3, 2)
    assert abs(g1["ttr"] - 2 / 5) < 1e-12
    g2 = rows["g2"]
    assert (g2["n_tokens"], g2["distinct_tokens"]) == (4, 1)
    assert (g2["n_bigrams"], g2["distinct_bigrams"]) == (3, 1)
    # collapsed diversity is the boilerplate signal
    assert g2["bigram_ttr"] < g1["bigram_ttr"]


def test_diversity_profiler_whole_corpus_hll(spark):
    from flink_ml_spark.llmdata import DiversityProfiler
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} common word") for i in range(200)],
        "id long, text string")
    out = DiversityProfiler(inputCol="text").transform(df)[0].collect()
    assert len(out) == 1  # groupByCol=None -> one corpus row
    r = out[0]
    assert r["n_tokens"] == 800
    # HLL estimate of 203 distinct tokens within its ~2% default error
    assert abs(r["distinct_tokens"] - 203) <= 15
    # single-token docs: zero bigrams must not divide by zero
    one = spark.createDataFrame([(1, "solo")], "id long, text string")
    r1 = DiversityProfiler(inputCol="text").transform(one)[0].collect()[0]
    assert r1["n_bigrams"] == 0 and r1["bigram_ttr"] == 0.0


def test_diversity_profiler_empty_group_emits_zero_row(spark):
    """A group whose documents all tokenize to nothing must appear in
    the report as an n_tokens=0 row, not vanish (ADVICE r04: plain
    explode dropped it — an all-boilerplate-empty cohort silently
    missing is exactly what the corpus-health report exists to catch)."""
    from flink_ml_spark.llmdata import DiversityProfiler
    df = spark.createDataFrame(
        [(1, "ok", "a b c"), (2, "empty", ""), (3, "empty", "   ")],
        "id long, g string, text string")
    rows = {r["g"]: r for r in DiversityProfiler(
        inputCol="text", groupByCol="g", exactDistinct=True)
        .transform(df)[0].collect()}
    assert set(rows) == {"ok", "empty"}
    e = rows["empty"]
    assert (e["n_tokens"], e["distinct_tokens"], e["n_bigrams"]) == (0, 0, 0)
    assert e["ttr"] == 0.0 and e["bigram_ttr"] == 0.0


def test_metric_anomaly_detector(spark):
    from flink_ml_spark.llmdata.profiler import MetricAnomalyDetector
    hist = spark.createDataFrame(
        # m1: stable history then a spike; m2: stable throughout;
        # m3: single point (no baseline -> never anomalous)
        [("m1", t, 10.0 + (t % 2) * 0.5) for t in range(8)]
        + [("m1", 8, 25.0)]
        + [("m2", t, 5.0 + (t % 3) * 0.1) for t in range(9)]
        + [("m3", 0, 99.0)],
        "metric string, ts int, value double")
    det = MetricAnomalyDetector(threshold=3.0)
    rows = {r["metric"]: r for r in det.transform(hist)[0].collect()}
    assert rows["m1"]["anomalous"] and rows["m1"]["ts"] == 8
    assert not rows["m2"]["anomalous"]
    assert not rows["m3"]["anomalous"] and rows["m3"]["baseline"] is None
    # rel_change strategy compares to the immediately-prior point
    rel = MetricAnomalyDetector(strategy="rel_change", maxRelChange=0.5)
    rrows = {r["metric"]: r for r in rel.transform(hist)[0].collect()}
    assert rrows["m1"]["anomalous"]          # 10.5 -> 25 is +138%
    assert abs(rrows["m1"]["baseline"] - 10.5) < 1e-12  # prior value
    assert not rrows["m2"]["anomalous"]
    # zero-variance history: any exact deviation flags, equality doesn't
    flat = spark.createDataFrame(
        [("f", t, 7.0) for t in range(5)] + [("f", 5, 7.0),
                                             ("g", 0, 1.0), ("g", 1, 1.0),
                                             ("g", 2, 1.1)],
        "metric string, ts int, value double")
    frows = {r["metric"]: r for r in MetricAnomalyDetector()
             .transform(flat)[0].collect()}
    assert not frows["f"]["anomalous"]
    assert frows["g"]["anomalous"]


def test_key_skew_profiler(spark):
    import math
    import pytest
    from pyspark.sql import functions as F
    from flink_ml_spark.llmdata import KeySkewProfiler
    # 90/5/5 split: heavy skew
    rows = [("a",)] * 90 + [("b",)] * 5 + [("c",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = KeySkewProfiler(inputCol="k", topK=2).transform(df)[0].collect()
    by_key = {r["key"]: r for r in out}
    assert by_key["a"]["rank"] == 1
    assert by_key["a"]["share"] == pytest.approx(0.9)
    assert by_key["a"]["cum_share"] == pytest.approx(0.9)
    assert by_key["a"]["top1_share"] == pytest.approx(0.9)
    assert by_key["a"]["topk_share"] == pytest.approx(0.95)
    # hand Gini: counts asc [5,5,90] -> 2*(1*5+2*5+3*90)/(3*100) - 4/3
    g = 2 * (5 + 10 + 270) / 300 - 4 / 3
    assert by_key["a"]["gini"] == pytest.approx(g)
    # uniform keys -> gini 0
    uni = spark.createDataFrame([(str(i % 4),) for i in range(80)], "k string")
    r = KeySkewProfiler(inputCol="k").transform(uni)[0].first()
    assert r["gini"] == pytest.approx(0.0)
    assert r["top1_share"] == pytest.approx(0.25)
    # cum_share of the last rank is exactly 1
    last = max(out, key=lambda r: r["rank"])
    assert last["cum_share"] == pytest.approx(1.0)
    # maxKeys guard
    ids = spark.createDataFrame([(str(i),) for i in range(50)], "k string")
    with pytest.raises(ValueError, match="maxKeys"):
        KeySkewProfiler(inputCol="k", maxKeys=10).transform(ids)
    # empty input -> empty report
    empty = spark.createDataFrame([], "k string")
    assert KeySkewProfiler(inputCol="k").transform(empty)[0].count() == 0


def test_vocab_growth_profiler(spark):
    import pytest
    from flink_ml_spark.llmdata import VocabGrowthProfiler
    # 2 slices via numSlices=2; craft ids whose unit-hash slices differ
    from flink_ml_spark.llmdata.sampling import _unit_hash_local
    ids0 = [i for i in range(100) if _unit_hash_local(i, 7) < 0.5][:2]
    ids1 = [i for i in range(100) if _unit_hash_local(i, 7) >= 0.5][:2]
    rows = [(ids0[0], "a b c"), (ids0[1], "a b"),
            (ids1[0], "a d"), (ids1[1], "e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["slice"]: r for r in
           VocabGrowthProfiler(idCol="doc_id", inputCol="text", numSlices=2,
                               salt=7).transform(df)[0].collect()}
    # slice 0 holds {a,b,c} (5 tokens), slice 1 adds {d,e} (3 tokens)
    assert out[0]["tokens"] == 5 and out[0]["new_types"] == 3
    assert out[1]["tokens"] == 3 and out[1]["new_types"] == 2
    assert out[1]["cum_types"] == 5
    assert out[0]["new_type_rate"] == pytest.approx(3 / 5)
    # a pure-repetition corpus flattens to zero new types after slice 0
    rep = spark.createDataFrame([(i, "x y") for i in range(40)],
                                "doc_id long, text string")
    curve = VocabGrowthProfiler(idCol="doc_id", inputCol="text",
                                numSlices=4, salt=7).transform(rep)[0].collect()
    curve = sorted(curve, key=lambda r: r["slice"])
    assert curve[0]["new_types"] == 2
    assert all(r["new_types"] == 0 for r in curve[1:])
    assert curve[-1]["cum_types"] == 2


def test_psi_drift(spark):
    import math
    import pytest
    from flink_ml_spark.llmdata import PsiDrift
    # identical distributions -> psi == 0 exactly (same counts per bin)
    vals = [float(v) for v in range(100)]
    a = spark.createDataFrame([(v,) for v in vals], "x double")
    out = PsiDrift(inputCol="x", numBins=4, exactQuantiles=True) \
        .transform(a, a)[0].collect()
    assert all(r["contrib"] == 0.0 for r in out)
    assert out[0]["psi"] == 0.0
    assert len(out) == 4
    # shares sum to 1 on both sides
    assert sum(r["base_share"] for r in out) == pytest.approx(1.0)
    # hand-computed shift: baseline uniform over bins; current all in the
    # top bin -> psi = 3 bins emptying + one bin 0.25->1.0
    top = spark.createDataFrame([(99.0,)] * 40, "x double")
    out2 = {r["bin"]: r for r in
            PsiDrift(inputCol="x", numBins=4, exactQuantiles=True)
            .transform(a, top)[0].collect()}
    eps = 1e-6
    exp = sum((max(sc, eps) - sb) * math.log(max(sc, eps) / sb)
              for sb, sc in [(0.25, 0.0)] * 3 + [(0.25, 1.0)])
    assert out2[3]["cur_share"] == pytest.approx(1.0)
    assert out2[0]["psi"] == pytest.approx(exp, rel=1e-9)
    # contributions decompose the total
    assert sum(r["contrib"] for r in out2.values()) == pytest.approx(
        out2[0]["psi"], rel=1e-12)


def test_corpus_datasheet(spark):
    import pytest
    from flink_ml_spark.llmdata import CorpusDatasheet
    rows = [(1, "a b c", "en", "web"), (2, "a b c", "en", "web"),
            (3, "d e", "fr", "books"), (4, "f", "en", "web")]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "lang string, source string")
    out = {(r["section"], r["metric"]): r["value"] for r in
           CorpusDatasheet(inputCol="text", idCol="doc_id", langCol="lang",
                           sourceCol="source").transform(df)[0].collect()}
    assert out[("volume", "n_docs")] == 4.0
    # tokens = 3 + 3 + 2 + 1 = 9; types = {a b c d e f} = 6
    assert out[("volume", "n_tokens")] == 9.0
    # one exact duplicate pair -> dup rate 1 - 3/4
    assert out[("dedup", "exact_dup_rate")] == pytest.approx(0.25)
    assert out[("diversity", "ttr")] == pytest.approx(6 / 9)
    assert out[("language", "share_en")] == pytest.approx(0.75)
    assert out[("language", "share_fr")] == pytest.approx(0.25)
    # web has 3 of 4 docs
    assert out[("skew", "source_top1_share")] == pytest.approx(0.75)
    # empty corpus: volume rows only, no crash
    empty = spark.createDataFrame([], "doc_id long, text string, "
                                      "lang string, source string")
    rows2 = CorpusDatasheet(inputCol="text", idCol="doc_id", langCol="lang",
                            sourceCol="source").transform(empty)[0].collect()
    assert {(r["section"], r["metric"]) for r in rows2} == {
        ("volume", "n_docs"), ("volume", "n_tokens"), ("volume", "avg_chars")}


def test_key_skew_local_and_distributed_paths_match(spark, monkeypatch):
    """The ordered-collect driver path (m < dataflow.ROWS_PER_PART) and
    the range-partitioned distributed path must produce identical
    reports — the distributed path is otherwise never exercised on
    test-sized keys.  ROWS_PER_PART=10 puts the 38 keys on 4 range
    partitions, so the cross-partition offsets are exercised too."""
    from flink_ml_spark.common import dataflow
    from flink_ml_spark.llmdata import KeySkewProfiler
    rows = [(f"k{i % 37}",) for i in range(1500)] + [("hot",)] * 400
    df = spark.createDataFrame(rows, "k string")
    p = KeySkewProfiler(inputCol="k", topK=3)
    local = sorted(map(tuple, p.transform(df)[0].collect()))
    monkeypatch.setattr(dataflow, "ROWS_PER_PART", 10)
    dist = sorted(map(tuple, p.transform(df)[0].collect()))
    assert len(local) == 38
    assert local == dist
