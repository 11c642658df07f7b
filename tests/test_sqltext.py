"""SQL-text rendering (``common/sqltext.py``) and the serving-path kernels
and stages built on it.

Each rewritten kernel and stage is checked bit for bit against the
``Column``-chain form it replaced, kept inline here as the reference, in
every mode and at dims 1, 32, 128 and 129 (past ``UNROLL_DIM_CAP`` the
kernels fall back to the higher-order-function fold).  The plan build of
a pipeline request and of an IVF search is held to a fifth of the Py4J
round trips the ``Column`` form made.
"""

from __future__ import annotations

import math
import struct
import sys

import numpy as np
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F, types as T

from flink_ml_spark.common import sqltext as S, vector as V
from flink_ml_spark.common.optimizer import dot_lit

DIMS = [1, 32, 128, 129]


def _rows(df, order="id"):
    """The schema and the collected rows as text: ``repr`` round-trips
    every double exactly and tells -0.0 from 0.0."""
    return df.schema, repr([tuple(r) for r in df.orderBy(order).collect()])


def _vectors(rng, n, dim):
    """Rows of doubles over 16 orders of magnitude (so a changed
    summation order would show), plus NaN, ±inf and -0.0 entries."""
    out = []
    for i in range(n):
        v = rng.standard_normal(dim) * 10.0 ** rng.integers(-8, 8, dim)
        out.append([float(x) for x in v])
    out[1][0] = float("nan")
    out[2][-1] = float("inf")
    out[3][0] = -0.0
    return out


# ------------------------------------------------------------- renderer

NAMES = ["a`b", "with space", "dot.ted", "quo'te", 'dq"x', "``", "é"]
STRINGS = ["it's", "back\\slash", "new\nline", "naïve 東京 🎉", "${x}",
           "${spark.app.name}", "", "\\'", "tab\t", "\\u0041", "'; --"]
DOUBLES = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324,
           sys.float_info.max, -sys.float_info.max, 0.1, 1e16, 1 / 3,
           -2.5e-308, 123.0]


def test_name_quotes_any_column_name(spark):
    schema = T.StructType([T.StructField(n, T.LongType()) for n in NAMES])
    df = spark.createDataFrame([tuple(range(len(NAMES)))], schema)
    got = df.select(*[F.expr(S.name(n)) for n in NAMES]).first()
    assert list(got) == list(range(len(NAMES)))


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_string_is_exact_under_either_escape_setting(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        got = spark.range(1).select(
            *[F.expr(S.string(s)) for s in STRINGS]).first()
    finally:
        spark.conf.set(key, prev)
    assert list(got) == STRINGS


def test_double_is_a_bit_exact_double(spark):
    df = spark.range(1).select(
        *[F.expr(S.double(x)).alias(f"c{i}") for i, x in enumerate(DOUBLES)],
        F.expr(S.double_array(DOUBLES)).alias("arr"))
    assert all(f.dataType == T.DoubleType() and not f.nullable
               for f in df.schema.fields[:-1])
    assert df.schema["arr"].dataType == T.ArrayType(T.DoubleType(), False)
    row = df.first()
    for got in (list(row)[:-1], row["arr"]):
        for g, x in zip(got, DOUBLES):
            if math.isnan(x):
                assert math.isnan(g)
            else:
                assert struct.pack("<d", g) == struct.pack("<d", x)
    assert S.double(np.float64(0.5)) == "0.5D"


# -------------------------------------------------------------- kernels
# the Column-chain forms the SQL text replaced

def _ref_dot_fixed(a, b, dim):
    a, b = F.col(a), F.col(b)
    if dim is None or dim > V.UNROLL_DIM_CAP or dim <= 0:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)
    out = F.lit(0.0) + a[0] * b[0]
    for j in range(1, dim):
        out = out + a[j] * b[j]
    return out


def _ref_sq_norm_fixed(a, dim):
    a = F.col(a)
    if dim is None or dim > V.UNROLL_DIM_CAP or dim <= 0:
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    out = F.lit(0.0) + a[0] * a[0]
    for j in range(1, dim):
        out = out + a[j] * a[j]
    return out


def _ref_dot_lit(col, w):
    if len(w) <= 64:
        terms = [col[j] * float(w[j]) for j in range(len(w)) if w[j] != 0.0]
        if not terms:
            return F.lit(0.0)
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    lit = F.array(*[F.lit(float(x)) for x in w])
    return F.aggregate(F.zip_with(col, lit, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _pairs(spark, dim, seed=0):
    rng = np.random.default_rng([dim, seed])
    a, b = _vectors(rng, 12, dim), _vectors(rng, 12, dim)
    rows = [(i, x, y) for i, (x, y) in enumerate(zip(a, b))]
    rows.append((len(rows), None, b[0]))
    return spark.createDataFrame(rows, "id long, `a.x` array<double>, b array<double>")


@pytest.mark.parametrize("dim", DIMS + [None])
def test_vector_kernels_match_column_chain(spark, dim):
    df = _pairs(spark, dim or 5)
    new = df.select("id", F.expr(V.dot_fixed("a.x", "b", dim)).alias("dot"),
                    F.expr(V.sq_norm_fixed("a.x", dim)).alias("sq"))
    ref = df.select("id", _ref_dot_fixed("`a.x`", "b", dim).alias("dot"),
                    _ref_sq_norm_fixed("`a.x`", dim).alias("sq"))
    assert _rows(new) == _rows(ref)


@pytest.mark.parametrize("dim", [1, 32, 64, 65, 128, 129])
def test_dot_lit_matches_column_chain(spark, dim):
    rng = np.random.default_rng([dim, 1])
    w = rng.standard_normal(dim) * 10.0 ** rng.integers(-6, 6, dim)
    w[::3] = 0.0
    w[-1] = -0.0
    df = _pairs(spark, dim).select("id", F.col("`a.x`").cast("array<float>").alias("f"))
    new = df.select("id", F.expr(dot_lit("CAST(`f` AS ARRAY<DOUBLE>)", w)).alias("m"))
    ref = df.select("id", _ref_dot_lit(F.col("f").cast("array<double>"), w).alias("m"))
    assert _rows(new) == _rows(ref)
    zero = df.select("id", F.expr(dot_lit("CAST(`f` AS ARRAY<DOUBLE>)", w * 0)).alias("m"))
    assert _rows(zero) == _rows(df.select("id", _ref_dot_lit(F.col("f"), w * 0).alias("m")))


# --------------------------------------------------------------- stages
# each reference is the stage's Column-chain _transform before the change

def _ref_string_indexer(m, df):
    mode = m.get_("handleInvalid")
    for c, oc, vocab in zip(m.get_("inputCols"), m.get_("outputCols"),
                            m.model_data["stringArrays"]):
        pairs = []
        for i, v in enumerate(vocab):
            pairs.extend([F.lit(v), F.lit(float(i))])
        lookup = F.create_map(*pairs) if pairs else F.create_map()
        raw = lookup[F.col(c).cast("string")]
        if mode == "keep":
            expr = F.coalesce(raw, F.lit(float(len(vocab))))
        elif mode == "skip":
            df = df.filter(raw.isNotNull())
            expr = raw
        else:
            expr = F.when(raw.isNull(),
                          F.raise_error(F.lit(f"StringIndexer: unseen value in {c}"))
                          .cast("double")).otherwise(raw)
        df = df.withColumn(oc, expr)
    return df


def _ref_is_missing(col, mv):
    miss = col.isNull() | F.isnan(col)
    if mv is not None and not math.isnan(mv):
        miss = miss | (col == F.lit(mv))
    return miss


def _ref_imputer(m, df):
    mv = m.get_("missingValue")
    for c, oc, s in zip(m.get_("inputCols"), m.get_("outputCols"),
                        m.model_data["surrogates"]):
        col = F.col(c).cast("double")
        df = df.withColumn(oc, F.when(_ref_is_missing(col, mv), F.lit(s))
                           .otherwise(col))
    return df


def _ref_vector_assembler(va, df):
    from pyspark.sql.types import ArrayType
    in_cols = va.get_("inputCols")
    sizes = va.get_("inputSizes") or [None] * len(in_cols)
    mode = va.get_("handleInvalid")
    schema = {f.name: f.dataType for f in df.schema.fields}
    parts, invalid = [], F.lit(False)
    for c, size in zip(in_cols, sizes):
        col = F.col(c)
        if isinstance(schema[c], ArrayType):
            arr = col.cast("array<double>")
            bad = col.isNull()
            if size:
                bad = bad | (F.size(col) != F.lit(size))
            if mode == "keep":
                fill = F.array_repeat(F.lit(float("nan")), int(size or 1))
                arr = F.when(bad, fill).otherwise(arr)
        else:
            x = col.cast("double")
            bad = col.isNull() | F.isnan(x)
            arr = (F.array(F.coalesce(x, F.lit(float("nan")))) if mode == "keep"
                   else F.array(x))
        parts.append(arr)
        invalid = invalid | bad
    out = F.concat(*parts) if len(parts) > 1 else parts[0]
    if mode == "skip":
        df = df.filter(~invalid)
    elif mode == "error":
        out = F.when(invalid, F.raise_error(F.lit(
            "VectorAssembler: invalid (null/NaN/size-mismatch) input"))
            .cast("array<double>")).otherwise(out)
    return df.withColumn(va.get_("outputCol"), out)


def _lit_arr(v):
    return F.array(*[F.lit(float(x)) for x in v])


def _ref_affine(m, df, scale, offset):
    col = V.dense_input(df, m.get_("inputCol"))
    if offset is None:
        expr = F.zip_with(col, _lit_arr(scale), lambda x, s: x * s)
    else:
        paired = F.zip_with(col, _lit_arr(offset), lambda x, o: x - o)
        expr = F.zip_with(paired, _lit_arr(scale), lambda x, s: x * s)
    return df.withColumn(m.get_("outputCol"), expr)


def _ref_minmax(m, df):
    e_min, scale, shift = m._minmax_components()
    col = F.col(m.get_("inputCol"))
    paired = F.zip_with(col, _lit_arr(e_min), lambda x, v: x - v)
    scaled = F.zip_with(paired, _lit_arr(scale), lambda x, s: x * s)
    shifted = F.zip_with(scaled, _lit_arr(shift), lambda x, b: x + b)
    return df.withColumn(m.get_("outputCol"), shifted)


def _ref_margin(m, df):
    fcol = m.get_("featuresCol")
    w = np.array(m.model_data["coefficient"])
    if V.is_sparse_type(df, fcol):
        c = F.col(fcol)
        lit_w = _lit_arr(w)
        return F.aggregate(
            F.zip_with(c["indices"], c["values"],
                       lambda i, v: v * F.element_at(lit_w, i + 1)),
            F.lit(0.0), lambda acc, x: acc + x)
    return _ref_dot_lit(F.col(fcol).cast("array<double>"), w)


def _ref_linear(m, df):
    from flink_ml_spark.classification.linear import (LinearSVCModel,
                                                      LogisticRegressionModel)
    mg = _ref_margin(m, df)
    if isinstance(m, LogisticRegressionModel):
        prob1 = F.lit(1.0) / (F.lit(1.0) + F.exp(-mg))
        return (df.withColumn(m.get_("rawPredictionCol"),
                              F.array(F.lit(1.0) - prob1, prob1))
                .withColumn(m.get_("predictionCol"),
                            F.when(prob1 >= 0.5, 1.0).otherwise(0.0)))
    if isinstance(m, LinearSVCModel):
        return (df.withColumn(m.get_("rawPredictionCol"), mg)
                .withColumn(m.get_("predictionCol"),
                            F.when(mg >= 0.0, 1.0).otherwise(0.0)))
    return df.withColumn(m.get_("predictionCol"), mg)


VOCAB = ["it's", "back\\slash", "naïve 東京", "${x}", "1", "2.5", ""]


def _categorical(spark):
    rows = [(i, VOCAB[i % len(VOCAB)], i % 4) for i in range(20)]
    rows += [(20, "unseen", 1), (21, None, 9), (22, "1", None)]
    return spark.createDataFrame(rows, "id long, s string, n int")


def _string_indexer(mode):
    from flink_ml_spark.feature.stringindexer import StringIndexerModel
    m = StringIndexerModel(inputCols=["s", "n"], outputCols=["si", "ni"],
                           handleInvalid=mode)
    m.model_data = {"stringArrays": [VOCAB[::-1], ["3", "0", "1"]]}
    return m


@pytest.mark.parametrize("mode", ["keep", "skip"])
def test_string_indexer_matches_column_chain(spark, mode):
    df, m = _categorical(spark), _string_indexer(mode)
    assert _rows(m.transform(df)[0]) == _rows(_ref_string_indexer(m, df))


def test_string_indexer_error_mode(spark):
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError
    df, m = _categorical(spark), _string_indexer("error")
    ok = df.filter("s != 'unseen' AND n IN (0, 1, 3)")
    assert _rows(m.transform(ok)[0]) == _rows(_ref_string_indexer(m, ok))
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="StringIndexer: unseen value in [sn]"):
        m.transform(df)[0].collect()


def test_string_indexer_message_and_lookup_take_any_column_name(spark):
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError
    odd = "it's a `col`.x"
    df = _categorical(spark)
    m = _string_indexer("keep")
    m.set_(inputCols=[odd, "n"])
    got = m.transform(df.withColumnRenamed("s", odd))[0].drop(odd)
    assert _rows(got) == _rows(_ref_string_indexer(_string_indexer("keep"), df).drop("s"))
    m.set_(handleInvalid="error")
    seen_n = df.filter("n IN (0, 1, 3)").withColumnRenamed("s", odd)
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="StringIndexer: unseen value in it's a `col`.x"):
        m.transform(seen_n)[0].collect()


@pytest.mark.parametrize("mv", [float("nan"), -1.0, 0.0])
def test_imputer_matches_column_chain(spark, mv):
    from flink_ml_spark.feature.imputer import ImputerModel
    rows = [(0, 1.5, 3), (1, None, -1), (2, float("nan"), None), (3, -1.0, 0),
            (4, 0.0, 7), (5, -0.0, 2), (6, float("inf"), -1)]
    df = spark.createDataFrame(rows, "id long, x double, y int")
    m = ImputerModel(inputCols=["x", "y"], outputCols=["x", "y_imp"])
    m.set(ImputerModel.missingValue, mv)
    m.model_data = {"surrogates": [2.25, -0.0]}
    assert _rows(m.transform(df)[0]) == _rows(_ref_imputer(m, df))


def test_imputer_fit_unchanged_by_rendering(spark):
    from flink_ml_spark.feature.imputer import Imputer
    rows = [(0, 1.5), (1, None), (2, float("nan")), (3, -1.0), (4, 4.0)]
    df = spark.createDataFrame(rows, "id long, `x y` double")
    m = Imputer(inputCols=["x y"], outputCols=["o"], missingValue=-1.0).fit(df)
    assert m.model_data["surrogates"] == [(1.5 + 4.0) / 2]


def _assembler_input(spark):
    rows = [(0, 1.0, 2, [1.0, 2.0], [0.5, 1.5, 2.5]),
            (1, float("nan"), 3, [3.0, 4.0], [1.0, 1.0, 1.0]),
            (2, None, 4, None, [2.0, 2.0, 2.0]),
            (3, 4.0, None, [5.0], [3.0, 3.0, 3.0]),
            (4, -0.0, 5, [6.0, 7.0], None),
            (5, 6.0, 6, [8.0, 9.0], [4.0, 4.0, 4.0])]
    return spark.createDataFrame(
        rows, "id long, x double, k int, a array<double>, f array<float>")


@pytest.mark.parametrize("mode", ["keep", "skip"])
@pytest.mark.parametrize("sizes", [None, [1, 1, 2, 3]])
def test_vector_assembler_matches_column_chain(spark, mode, sizes):
    from flink_ml_spark.feature.vectorassembler import VectorAssembler
    df = _assembler_input(spark)
    va = VectorAssembler(inputCols=["x", "k", "a", "f"], outputCol="v",
                         handleInvalid=mode)
    one = VectorAssembler(inputCols=["a"], outputCol="v", handleInvalid=mode)
    if sizes:
        va.set_(inputSizes=sizes)
        one.set_(inputSizes=[2])
    assert _rows(va.transform(df)[0]) == _rows(_ref_vector_assembler(va, df))
    assert _rows(one.transform(df)[0]) == _rows(_ref_vector_assembler(one, df))


def test_vector_assembler_error_mode(spark):
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError
    from flink_ml_spark.feature.vectorassembler import VectorAssembler
    df = _assembler_input(spark)
    va = VectorAssembler(inputCols=["x", "k", "a", "f"], outputCol="v",
                         handleInvalid="error", inputSizes=[1, 1, 2, 3])
    ok = df.filter("id IN (0, 5)")
    assert _rows(va.transform(ok)[0]) == _rows(_ref_vector_assembler(va, ok))
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="VectorAssembler: invalid"):
        va.transform(df)[0].collect()


def _dense(spark, dim):
    rng = np.random.default_rng([dim, 2])
    rows = [(i, v) for i, v in enumerate(_vectors(rng, 8, dim))]
    rows.append((len(rows), None))
    return spark.createDataFrame(rows, "id long, v array<double>")


def _sparse(spark, dim):
    rng = np.random.default_rng([dim, 3])
    rows = []
    for i in range(8):
        idx = sorted(rng.choice(dim, min(dim, 3), replace=False).tolist())
        rows.append((i, (dim, idx, [float(x) for x in rng.standard_normal(len(idx))])))
    return spark.createDataFrame(rows, f"id long, v {V.SPARSE_STRUCT}")


def _stats(dim, seed):
    rng = np.random.default_rng([dim, seed])
    a = rng.standard_normal(dim) * 10.0 ** rng.integers(-4, 4, dim)
    b = a + np.abs(rng.standard_normal(dim))
    b[0] = a[0]  # a zero span / zero std dimension
    return a, b


@pytest.mark.parametrize("dim", DIMS)
@pytest.mark.parametrize("with_mean,with_std", [(True, True), (False, True),
                                                (True, False)])
def test_standard_scaler_matches_column_chain(spark, dim, with_mean, with_std):
    from flink_ml_spark.feature.scalers import StandardScalerModel
    mean, std = _stats(dim, 4)
    std = std - mean
    m = StandardScalerModel(inputCol="v", outputCol="o", withMean=with_mean,
                            withStd=with_std)
    m.model_data = {"mean": mean.tolist(), "std": std.tolist()}
    for df in (_dense(spark, dim), _sparse(spark, dim)):
        want = _ref_affine(m, df, *m._components())
        assert _rows(m.transform(df)[0]) == _rows(want)


@pytest.mark.parametrize("dim", DIMS)
def test_minmax_and_maxabs_scalers_match_column_chain(spark, dim):
    from flink_ml_spark.feature.scalers import MaxAbsScalerModel, MinMaxScalerModel
    e_min, e_max = _stats(dim, 5)
    df = _dense(spark, dim)
    mm = MinMaxScalerModel(inputCol="v", outputCol="o")
    mm.model_data = {"eMin": e_min.tolist(), "eMax": e_max.tolist()}
    assert _rows(mm.transform(df)[0]) == _rows(_ref_minmax(mm, df))
    ma = MaxAbsScalerModel(inputCol="v", outputCol="o")
    ma.model_data = {"maxAbs": np.abs(e_max).tolist()}
    max_abs = np.abs(e_max)
    scale = np.where(max_abs != 0, 1.0 / np.where(max_abs == 0, 1.0, max_abs), 1.0)
    assert _rows(ma.transform(df)[0]) == _rows(_ref_affine(ma, df, scale, None))


@pytest.mark.parametrize("dim", [1, 32, 64, 65, 128, 129])
@pytest.mark.parametrize("kind", ["logistic", "svc", "linear"])
def test_linear_models_match_column_chain(spark, dim, kind):
    from flink_ml_spark.classification.linear import (LinearRegressionModel,
                                                      LinearSVCModel,
                                                      LogisticRegressionModel)
    cls = {"logistic": LogisticRegressionModel, "svc": LinearSVCModel,
           "linear": LinearRegressionModel}[kind]
    rng = np.random.default_rng([dim, 6])
    w = rng.standard_normal(dim) * 0.01
    w[::4] = 0.0
    m = cls(featuresCol="v")
    m.model_data = {"coefficient": w.tolist()}
    dense = _dense(spark, dim).withColumn("v", F.col("v").cast("array<float>"))
    for df in (dense, _sparse(spark, dim)):
        assert _rows(m.transform(df)[0]) == _rows(_ref_linear(m, df))


# ---------------------------------------------------- Py4J round trips
# the Column-chain form made 1,630 round trips building a 256-row
# request's plan and about 5,500 building an IVF search at dim 32

PARENT_REQUEST_CALLS = 1630
PARENT_IVF_SEARCH_CALLS = 5500


@pytest.fixture()
def py4j_calls(monkeypatch):
    """``count(fn)``: Py4J commands sent while ``fn()`` runs."""
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return send(self, command)
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(fn):
        n[0] = 0
        fn()
        return n[0]
    return count


def test_request_plan_build_round_trips(spark, py4j_calls):
    from flink_ml_spark import Pipeline
    from flink_ml_spark.classification.linear import LogisticRegression
    from flink_ml_spark.feature.imputer import Imputer
    from flink_ml_spark.feature.scalers import StandardScaler
    from flink_ml_spark.feature.stringindexer import StringIndexer
    from flink_ml_spark.feature.vectorassembler import VectorAssembler
    import pandas as pd
    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame({
        "s1": rng.choice(["A", "N", "R"], n), "s2": rng.choice(["AIR", "RAIL", "SHIP"], n),
        "s3": rng.choice(["NONE", "COD"], n),
        "q": np.where(rng.random(n) < 0.05, np.nan, rng.integers(1, 50, n).astype(float)),
        "p": rng.uniform(900, 2100, n), "d": rng.integers(0, 11, n) / 100.0,
        "t": rng.integers(0, 9, n) / 100.0})
    pdf["label"] = (pdf["d"] * 10 + rng.normal(0, 0.5, n) > 0.5).astype(float)
    train = spark.createDataFrame(pdf)
    strs, num = ["s1", "s2", "s3"], ["q", "p", "d"]
    model = Pipeline([
        StringIndexer(inputCols=strs, outputCols=[c + "_idx" for c in strs]),
        Imputer(inputCols=num, outputCols=[c + "_imp" for c in num]),
        VectorAssembler(inputCols=[c + "_imp" for c in num] + ["t"]
                        + [c + "_idx" for c in strs], outputCol="raw"),
        StandardScaler(inputCol="raw", outputCol="features", withMean=True),
        LogisticRegression(featuresCol="features", labelCol="label", maxIter=3),
    ]).fit(train)
    req = spark.createDataFrame(pdf.iloc[:256]).localCheckpoint()
    model.transform(req)  # first build pays one-time class loading
    calls = py4j_calls(lambda: model.transform(req))
    assert 0 < calls <= PARENT_REQUEST_CALLS // 5, calls


def test_ivf_search_plan_build_round_trips(spark, py4j_calls):
    from flink_ml_spark.llmdata.simsearch import IVFIndex
    rng = np.random.default_rng(8)
    centres = rng.normal(0, 1, (16, 32))
    emb = centres[rng.integers(0, 16, 600)] + rng.normal(0, 0.35, (600, 32))
    docs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "doc_id long, embedding array<float>")
    ivf = IVFIndex(vecCol="embedding", cellCol="cell", nlist=16,
                   maxIter=2).fit(docs).set_(nprobe=4)
    indexed = ivf.transform(docs)[0].localCheckpoint()
    q = docs.limit(16).withColumnRenamed("doc_id", "query_id").localCheckpoint()
    ivf.search(q, indexed, "query_id", "doc_id", 10)
    calls = py4j_calls(lambda: ivf.search(q, indexed, "query_id", "doc_id", 10))
    assert 0 < calls <= PARENT_IVF_SEARCH_CALLS // 5, calls
