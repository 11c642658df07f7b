"""Learner queries vs DuckDB oracles.

LogisticRegression / LinearRegression run full-batch GD with tol=0 so the
trajectory is a deterministic function of per-round aggregate sums — the
oracle replays the SAME gradient-descent recurrence as a recursive CTE.
NaiveBayes / Knn predictions are closed-form over aggregates / joins.
KMeans (first_distinct init, fixed iters) is replayed exactly in DuckDB
with materialized per-iteration CTEs (assignment + centroid update).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..classification import Knn, LogisticRegression, NaiveBayes
from ..clustering import KMeans
from ..regression import LinearRegression
from . import SQL_Q4, load, q4

KEY = ["l_orderkey", "l_linenumber"]

# features (O(1)-scaled, with bias term) shared by LR / LinReg ---------------

_FEAT = ["l_quantity / 50", "l_discount * 10", "l_tax * 10", "1.0"]
_LABEL = "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END"


def _lr_frame(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        *KEY,
        F.array(F.col("l_quantity") / 50, F.col("l_discount") * 10,
                F.col("l_tax") * 10, F.lit(1.0)).alias("features"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"))


def _gd_cte(residual_tpl: str, iters: int, lr: float, out: str,
            label_sql: str = _LABEL) -> str:
    """Recursive-CTE replay of common/optimizer.py's full-batch update:
    w -= lr * avg(residual * x_j)."""
    feats = ", ".join(f"({f}) AS x{i}" for i, f in enumerate(_FEAT))
    # round(…, 12) after every update mirrors weightRounding=12 on the
    # Spark side: both engines snap to the same weights each round, so
    # summation-order float noise cannot compound (the hinge residual is
    # discontinuous — unquantized trajectories diverged measurably)
    grads = ", ".join(
        f"round(w{j} - {lr} * (SELECT avg(({residual_tpl}) * x{j}) FROM data), 12)"
        for j in range(4))
    margin = " + ".join(f"w{j} * x{j}" for j in range(4))
    sql = f"""
WITH RECURSIVE data AS (
  SELECT l_orderkey, l_linenumber, {feats}, {label_sql} AS y FROM lineitem),
it(i, w0, w1, w2, w3) AS (
  SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
  UNION ALL
  SELECT i + 1, {grads} FROM it WHERE i < {iters}),
w AS (SELECT w0, w1, w2, w3 FROM it ORDER BY i DESC LIMIT 1)
SELECT l_orderkey, l_linenumber, {out} FROM data, w
"""
    return sql.replace("{margin}", margin)


GD_ITERS, GD_LR = 10, 0.5


def logistic_regression(spark, sf_dir):
    df = _lr_frame(spark, sf_dir)
    m = LogisticRegression(maxIter=GD_ITERS, learningRate=GD_LR, tol=0.0,
                           globalBatchSize=1 << 40, weightRounding=12).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY, q4(F.element_at("rawPrediction", 2)).alias("prob"))


_LOGIT_RES = "1.0/(1.0 + exp(-({margin}))) - y"
LOGISTIC_REGRESSION_SQL = _gd_cte(
    _LOGIT_RES, GD_ITERS, GD_LR,
    out=SQL_Q4.format("1.0/(1.0 + exp(-({margin})))") + " AS prob")


def linear_svc(spark, sf_dir):
    from ..classification import LinearSVC
    df = _lr_frame(spark, sf_dir)
    m = LinearSVC(maxIter=GD_ITERS, learningRate=GD_LR, tol=0.0,
                  globalBatchSize=1 << 40, weightRounding=12).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY, q4(F.col("rawPrediction")).alias("svc_raw"))


# hinge residual: ysign = 2y-1; -ysign where ysign*margin < 1 else 0
_HINGE_RES = "CASE WHEN (2*y - 1) * ({margin}) < 1 THEN -(2*y - 1) ELSE 0.0 END"
LINEAR_SVC_SQL = _gd_cte(
    _HINGE_RES, GD_ITERS, GD_LR,
    out=SQL_Q4.format("({margin})") + " AS svc_raw")


def linear_regression(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.col("l_quantity") / 50, F.col("l_discount") * 10,
                F.col("l_tax") * 10, F.lit(1.0)).alias("features"),
        (F.col("l_extendedprice") / 100000.0).alias("label"))
    m = LinearRegression(maxIter=GD_ITERS, learningRate=GD_LR, tol=0.0,
                         globalBatchSize=1 << 40, weightRounding=12).fit(df)
    return m.transform(df)[0].select(*KEY, q4(F.col("prediction")).alias("pred"))


LINEAR_REGRESSION_SQL = _gd_cte(
    "({margin}) - y", GD_ITERS, GD_LR,
    out=SQL_Q4.format("({margin})") + " AS pred",
    label_sql="l_extendedprice / 100000.0")


QR_TAU = 0.8


def quantile_regression(spark, sf_dir):
    """QuantileRegressor (pinball loss, τ=0.8): the fitted line tracks
    the 80th conditional percentile of the price label — the robust
    sibling of linear_regression's mean.  Same 12-dp GD grid → the
    oracle replays the fit with the pinball subgradient CASE (the
    τ−1 / 1−τ constants differ between engines only in the last ulp,
    absorbed by the per-round round(…, 12) like the rest of the GD
    discipline)."""
    from ..regression import QuantileRegressor
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.col("l_quantity") / 50, F.col("l_discount") * 10,
                F.col("l_tax") * 10, F.lit(1.0)).alias("features"),
        (F.col("l_extendedprice") / 100000.0).alias("label"))
    m = QuantileRegressor(tau=QR_TAU, maxIter=GD_ITERS,
                          learningRate=GD_LR, tol=0.0,
                          globalBatchSize=1 << 40,
                          weightRounding=12).fit(df)
    return m.transform(df)[0].select(
        *KEY, q4(F.col("prediction")).alias("pred"))


_PINBALL_RES = (f"CASE WHEN ({{margin}}) < y THEN -{QR_TAU} "
                f"ELSE 1.0 - {QR_TAU} END")
QUANTILE_REGRESSION_SQL = _gd_cte(
    _PINBALL_RES, GD_ITERS, GD_LR,
    out=SQL_Q4.format("({margin})") + " AS pred",
    label_sql="l_extendedprice / 100000.0")


HUBER_DELTA = 0.25


def huber_regression(spark, sf_dir):
    """HuberRegressor (δ=0.25): robust conditional-mean fit — outlier
    rows contribute a bounded ±δ gradient.  The clamp residual is a
    continuous greatest/least, so the 12-dp GD replay needs no
    subgradient convention at all."""
    from ..regression import HuberRegressor
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.col("l_quantity") / 50, F.col("l_discount") * 10,
                F.col("l_tax") * 10, F.lit(1.0)).alias("features"),
        (F.col("l_extendedprice") / 100000.0).alias("label"))
    m = HuberRegressor(delta=HUBER_DELTA, maxIter=GD_ITERS,
                       learningRate=GD_LR, tol=0.0,
                       globalBatchSize=1 << 40,
                       weightRounding=12).fit(df)
    return m.transform(df)[0].select(
        *KEY, q4(F.col("prediction")).alias("pred"))


_HUBER_RES = (f"GREATEST(-{HUBER_DELTA}, "
              f"LEAST({HUBER_DELTA}, ({{margin}}) - y))")
HUBER_REGRESSION_SQL = _gd_cte(
    _HUBER_RES, GD_ITERS, GD_LR,
    out=SQL_Q4.format("({margin})") + " AS pred",
    label_sql="l_extendedprice / 100000.0")

# --- NaiveBayes -------------------------------------------------------------
# categorical features from lineitem; prediction = argmax_y log P(y) +
# Σ_f log((cnt+s)/(label_cnt+s*arity_f)); ties → smallest label.

_NB_F = ["CAST(FLOOR(l_quantity / 10) AS DOUBLE)",
         "CAST(FLOOR(l_discount * 100 / 4) AS DOUBLE)",
         "CAST(l_linenumber AS DOUBLE)"]
_NB_LABEL = ("CASE WHEN l_returnflag = 'A' THEN 0.0 "
             "WHEN l_returnflag = 'F' THEN 1.0 ELSE 2.0 END")


def naive_bayes(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.floor(F.col("l_quantity") / 10).cast("double"),
                F.floor(F.col("l_discount") * 100 / 4).cast("double"),
                F.col("l_linenumber").cast("double")).alias("features"),
        F.when(F.col("l_returnflag") == "A", 0.0)
        .when(F.col("l_returnflag") == "F", 1.0).otherwise(2.0).alias("label"))
    m = NaiveBayes(featuresCol="features", labelCol="label").fit(df)
    return m.transform(df)[0].select(*KEY, F.col("prediction").alias("pred"))


def _nb_sql() -> str:
    feats = ", ".join(f"({f}) AS f{i}" for i, f in enumerate(_NB_F))
    unions = " UNION ALL ".join(
        f"SELECT y, {i} AS fi, f{i} AS v FROM data" for i in range(3))
    fx_unions = " UNION ALL ".join(
        f"SELECT f0, f1, f2, {i} AS fi, f{i} AS v FROM fx" for i in range(3))
    return f"""
WITH data AS (SELECT l_orderkey, l_linenumber, {feats}, {_NB_LABEL} AS y FROM lineitem),
ex AS ({unions}),
counts AS (SELECT y, fi, v, CAST(count(*) AS DOUBLE) AS cnt FROM ex GROUP BY y, fi, v),
label_w AS (SELECT y, CAST(count(*) AS DOUBLE) AS lw FROM data GROUP BY y),
arity AS (SELECT fi, CAST(count(DISTINCT v) AS DOUBLE) AS ar FROM ex GROUP BY fi),
labels AS (SELECT DISTINCT y FROM data),
total AS (SELECT sum(lw) AS t FROM label_w),
fx AS (SELECT DISTINCT f0, f1, f2 FROM data),
fex AS ({fx_unions}),
scored AS (
  SELECT e.f0, e.f1, e.f2, l.y AS cand,
         ln(lw.lw / total.t)
         + sum(ln((COALESCE(c.cnt, 0) + 1.0) / (lw.lw + 1.0 * a.ar))) AS score
  FROM fex e
  CROSS JOIN labels l
  JOIN label_w lw ON lw.y = l.y
  JOIN arity a ON a.fi = e.fi
  LEFT JOIN counts c ON c.y = l.y AND c.fi = e.fi AND c.v = e.v
  CROSS JOIN total
  GROUP BY e.f0, e.f1, e.f2, l.y, lw.lw, total.t),
pred AS (
  SELECT f0, f1, f2, CAST(cand AS DOUBLE) AS pred FROM scored
  QUALIFY row_number() OVER (PARTITION BY f0, f1, f2
                             ORDER BY score DESC, cand ASC) = 1)
SELECT d.l_orderkey, d.l_linenumber, p.pred
FROM data d JOIN pred p ON d.f0 = p.f0 AND d.f1 = p.f1 AND d.f2 = p.f2
"""


NAIVE_BAYES_SQL = _nb_sql()

# --- Knn (embeddings, leave-one-in self-classification) ---------------------

KNN_K = 5


def knn(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    df = emb.select("vec_id",
                    F.col("embedding").cast("array<double>").alias("features"),
                    F.col("label").cast("double").alias("label")) \
        .orderBy("vec_id")
    m = Knn(k=KNN_K).fit(df)
    return m.transform(df)[0].select("vec_id", F.col("prediction").alias("pred"))


KNN_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, CAST(label AS DOUBLE) y FROM embeddings),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS tid, b.y,
         list_inner_product(a.v, a.v) - 2 * list_inner_product(a.v, b.v)
           + list_inner_product(b.v, b.v) AS d2
  FROM e a CROSS JOIN e b),
nn AS (
  SELECT qid, y FROM pairs
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, tid ASC) <= {KNN_K}),
votes AS (SELECT qid, y, count(*) c FROM nn GROUP BY qid, y)
SELECT qid AS vec_id, y AS pred FROM votes
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY c DESC, y ASC) = 1
"""

# --- KMeans (iterative, data-dependent control flow → rows-only) ------------

def kmeans(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.col("l_quantity") / 50, F.col("l_extendedprice") / 100000,
                F.col("l_discount") * 10, F.col("l_tax") * 10).alias("features"))
    m = KMeans(k=4, maxIter=10, initMode="first_distinct", tol=0.0).fit(df)
    return m.transform(df)[0].select(*KEY, F.col("prediction").alias("cluster"))


def _kmeans_sql(k: int = 4, iters: int = 10, dim: int = 4) -> str:
    """Exact DuckDB replay of the deterministic Lloyd run: first_distinct
    init (k lexicographically-smallest distinct vectors), per-iteration
    argmin assignment (ties -> lowest cid, mirroring
    closest_centroid_expr's array_position) and sum/count centroid update
    with empty clusters keeping their previous centroid."""
    feats = ["l_quantity / 50", "l_extendedprice / 100000",
             "l_discount * 10", "l_tax * 10"]
    fl = [f"f{j}" for j in range(dim)]
    flist = ", ".join(fl)
    parts = [
        f"WITH pts AS MATERIALIZED (SELECT row_number() OVER () AS rid, l_orderkey, "
        f"l_linenumber, "
        + ", ".join(f"{e} AS f{j}" for j, e in enumerate(feats))
        + " FROM lineitem)",
        f"c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY {flist}) - 1 AS cid, "
        + ", ".join(f"f{j} AS m{j}" for j in range(dim))
        + f" FROM (SELECT DISTINCT {flist} FROM pts) ORDER BY {flist} LIMIT {k})",
    ]
    dist = " + ".join(f"(p.f{j} - c.m{j}) * (p.f{j} - c.m{j})"
                      for j in range(dim))
    pcols = ", ".join(f"p.f{j}" for j in range(dim))
    def assign(src: str, out: str, alias: str) -> str:
        # ties -> lowest cid, mirroring closest_centroid_expr's
        # array_position-of-min
        return (f"{alias} AS MATERIALIZED (SELECT rid, l_orderkey, l_linenumber, {flist}, "
                f"cid AS {out} FROM ("
                f"SELECT p.*, c.cid, row_number() OVER (PARTITION BY p.rid "
                f"ORDER BY {dist}, c.cid) AS __rn "
                f"FROM pts p CROSS JOIN {src} c) WHERE __rn = 1)")

    for it in range(1, iters + 1):
        parts.append(assign(f"c{it - 1}", "cid", f"a{it}"))
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL OR s.n = 0 THEN c.m{j} "
            f"ELSE s.s{j} / s.n END AS m{j}" for j in range(dim))
        sums = ", ".join(f"sum(f{j}) AS s{j}" for j in range(dim))
        parts.append(
            f"c{it} AS MATERIALIZED (SELECT c.cid, {upd} FROM c{it - 1} c LEFT JOIN "
            f"(SELECT cid, count(*) AS n, {sums} FROM a{it} GROUP BY cid) s "
            f"ON s.cid = c.cid)")
    # the fitted model (c_iters) drives the final transform assignment
    parts.append(assign(f"c{iters}", "cluster", "final"))
    return (", ".join(parts)
            + " SELECT l_orderkey, l_linenumber, cluster FROM final")


KMEANS_SQL = _kmeans_sql()


# --- Swing (user=o_custkey, item=l_partkey) --------------------------------

_SWING = dict(minUserBehavior=5, maxUserBehavior=1000, alpha1=15, alpha2=0,
              beta=0.3, k=10)


def swing(spark, sf_dir):
    from pyspark.sql import Window
    from ..recommendation import Swing
    li, orders = load(spark, sf_dir, "lineitem", "orders")
    ui = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
          .select(F.col("o_custkey").alias("user"),
                  F.col("l_partkey").alias("item")))
    # k untruncated inside the operator; the query re-ranks on the
    # QUANTIZED score so float summation order can't flip tie ranks
    # across engines
    s = Swing(userCol="user", itemCol="item", maxUserNumPerItem=1 << 30,
              **{**_SWING, "k": 1 << 30})
    out = s.transform(ui)[0].withColumn("score_q", q4(F.col("score")))
    w = Window.partitionBy("item").orderBy(F.desc("score_q"),
                                           F.asc("similar_item"))
    return (out.withColumn("qrank", F.row_number().over(w))
            .filter(F.col("qrank") <= _SWING["k"])
            .select("item", "similar_item", F.col("score_q").alias("score"),
                    F.col("qrank").alias("rank")))


SWING_SQL = f"""
WITH ui AS (
  SELECT DISTINCT o_custkey u, l_partkey i
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
act AS (SELECT u, count(*) n FROM ui GROUP BY u
        HAVING n >= {_SWING['minUserBehavior']} AND n <= {_SWING['maxUserBehavior']}),
w AS (SELECT u, pow({_SWING['alpha1']} + n, -{_SWING['beta']}) w FROM act),
ui2 AS (SELECT ui.u, ui.i FROM ui JOIN act ON ui.u = act.u),
co AS (SELECT a.u ua, b.u ub, a.i
       FROM ui2 a JOIN ui2 b ON a.i = b.i AND a.u < b.u),
pc AS (SELECT ua, ub, count(*) c FROM co GROUP BY ua, ub),
pw AS (SELECT pc.ua, pc.ub, wa.w * wb.w / ({_SWING['alpha2']} + pc.c) pw
       FROM pc JOIN w wa ON wa.u = pc.ua JOIN w wb ON wb.u = pc.ub),
ip AS (
  SELECT a.i, b.i j, sum(pw.pw) score
  FROM co a JOIN co b ON a.ua = b.ua AND a.ub = b.ub AND a.i <> b.i
  JOIN pw ON pw.ua = a.ua AND pw.ub = a.ub
  GROUP BY a.i, b.i),
ranked AS (
  SELECT i item, j similar_item, {SQL_Q4.format('score')} AS score,
         row_number() OVER (PARTITION BY i ORDER BY {SQL_Q4.format('score')} DESC,
                            j ASC) rank
  FROM ip)
SELECT item, similar_item, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_SWING['k']}
"""

# --- MinHashLSH approx similarity join -------------------------------------

def minhash_lsh_join(spark, sf_dir):
    from ..feature import MinHashLSH
    docs = load(spark, sf_dir, "documents")
    from ..llmdata.dedup import token_indices_udf
    # vector = token-hash set rendered as sparse indices over a 1024 space;
    # index set computed in an Arrow UDF (lambda-HOF expressions can't
    # feed the model's signature UDF) — values via array_repeat, no lambda
    idx = token_indices_udf(1024)(F.col("text"))
    base = (docs.select(F.col("doc_id").alias("id"), idx.alias("indices"))
            .select("id",
                    F.struct(F.lit(1024).alias("size"), F.col("indices"),
                             F.array_repeat(F.lit(1.0), F.size("indices"))
                             .alias("values")).alias("vec")))
    model = MinHashLSH(inputCol="vec", outputCol="h", seed=7,
                       numHashTables=8, numHashFunctionsPerTable=2).fit(base)
    out = model.approx_similarity_join(base, base, threshold=0.8)
    return (out.filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", q4(F.col("distCol")).alias("dist")))


def _lsh_join_sql() -> str:
    from ..llmdata.dedup import MINHASH_PRIME, _hash_family
    fam = _hash_family(16, 7)
    from .llmdata_queries import TOKHASH, TOKS
    idx = f"list_sort(list_distinct(list_transform({TOKS}, t -> {TOKHASH.format(t='t')} % 1024)))"
    mh = [f"list_min(list_transform(idx, j -> ((j + 1) * {a} + {b}) % {MINHASH_PRIME}))"
          for a, b in fam]
    tables = [f"concat({mh[2*t]}, '_', {mh[2*t+1]})" for t in range(8)]
    sig_rows = " UNION ALL ".join(
        f"SELECT id, idx, {t} AS tbl, {s} AS sig FROM base" for t, s in enumerate(tables))
    return f"""
WITH base AS (SELECT doc_id id, {idx} AS idx FROM documents),
sigs AS ({sig_rows}),
pairs AS (
  SELECT DISTINCT a.id id_a, b.id id_b, a.idx ia, b.idx ib
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
  WHERE a.id < b.id),
scored AS (
  SELECT id_a, id_b,
         1.0 - CAST(len(list_intersect(ia, ib)) AS DOUBLE)
             / (len(ia) + len(ib) - len(list_intersect(ia, ib))) AS d
  FROM pairs)
SELECT id_a, id_b, {SQL_Q4.format('d')} AS dist FROM scored WHERE d <= 0.8
"""


def minhash_lsh_nn(spark, sf_dir):
    """approxNearestNeighbors (LSHModel.java:142): candidates share ≥1
    table signature with the key, ranked by exact Jaccard distance (ties
    → lowest id), top-5.  Key = doc 0's index set."""
    from ..feature import MinHashLSH
    from ..llmdata.dedup import token_indices_udf
    docs = load(spark, sf_dir, "documents")
    idx = token_indices_udf(1024)(F.col("text"))
    base = (docs.select(F.col("doc_id").alias("id"), idx.alias("indices"))
            .select("id",
                    F.struct(F.lit(1024).alias("size"), F.col("indices"),
                             F.array_repeat(F.lit(1.0), F.size("indices"))
                             .alias("values")).alias("vec")))
    model = MinHashLSH(inputCol="vec", outputCol="h", seed=7,
                       numHashTables=8, numHashFunctionsPerTable=2).fit(base)
    key = sorted(base.where(F.col("id") == 0).first()["vec"]["indices"])
    out = model.approx_nearest_neighbors(base, key, k=5, id_col="id")
    return out.select("id", q4(F.col("distCol")).alias("dist"))


def _lsh_nn_sql() -> str:
    from ..llmdata.dedup import MINHASH_PRIME, _hash_family
    fam = _hash_family(16, 7)
    from .llmdata_queries import TOKHASH, TOKS
    idx = (f"list_sort(list_distinct(list_transform({TOKS}, "
           f"t -> {TOKHASH.format(t='t')} % 1024)))")
    mh = [f"list_min(list_transform(idx, j -> ((j + 1) * {a} + {b}) % {MINHASH_PRIME}))"
          for a, b in fam]
    tables = [f"concat({mh[2 * t]}, '_', {mh[2 * t + 1]})" for t in range(8)]
    sig_rows = " UNION ALL ".join(
        f"SELECT id, idx, {t} AS tbl, {s} AS sig FROM base"
        for t, s in enumerate(tables))
    return f"""
WITH base AS (SELECT doc_id id, {idx} AS idx FROM documents),
sigs AS ({sig_rows}),
keysigs AS (SELECT tbl, sig FROM sigs WHERE id = 0),
keyidx AS (SELECT idx FROM base WHERE id = 0),
cand AS (
  SELECT DISTINCT s.id, s.idx FROM sigs s
  JOIN keysigs k ON s.tbl = k.tbl AND s.sig = k.sig),
scored AS (
  SELECT c.id,
         1.0 - CAST(len(list_intersect(c.idx, k.idx)) AS DOUBLE)
             / (len(c.idx) + len(k.idx) - len(list_intersect(c.idx, k.idx))) AS d
  FROM cand c, keyidx k)
SELECT id, {SQL_Q4.format('d')} AS dist FROM scored ORDER BY d, id LIMIT 5
"""


# --- AgglomerativeClustering (precomputed-fixture oracle) -------------------
# The reference pins exact expected merge trees for seeded inputs
# (AgglomerativeClusteringTest.java); same idea here: the oracle is the
# expected assignment for the fixed sf0.01 supplier input, precomputed with
# the seeded local kernel.  Output is made order-invariant by relabeling
# each cluster to its minimum member s_suppkey (label NUMBERING depends on
# the group's row order; MEMBERSHIP does not).

def agglomerative(spark, sf_dir):
    from pyspark.sql import Window
    from ..clustering import AgglomerativeClustering
    sup = load(spark, sf_dir, "supplier")
    df = sup.select("s_suppkey",
                    F.array((F.col("s_acctbal") / 1000).cast("double"),
                            (F.col("s_nationkey").cast("double") / 10)).alias("features"))
    op = AgglomerativeClustering(featuresCol="features", predictionCol="cluster",
                                 numClusters=5, linkage="ward")
    assigned, _tree = op.transform(df)
    w = Window.partitionBy("cluster")
    return (assigned.select("s_suppkey", "cluster")
            .withColumn("cluster_rep", F.min("s_suppkey").over(w))
            .select("s_suppkey", "cluster_rep"))


def _agglomerative_sql() -> str | None:
    """VALUES fixture from the seeded kernel over the supplier table of the
    active sf dir ($SPARK_GRAFT_SF_DIR when set — tools/check_oracle.py and
    bench.py export it — else the driver's sf0.01); None → rows-only if the
    fixture input is unavailable.  Each sf has its own generated rows, so
    the fixture must come from the same dir the query reads."""
    import os
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    path = f"{sf_dir}/supplier.parquet"
    if not os.path.exists(path):
        return None
    import duckdb
    from ..clustering.agglomerativeclustering import agglomerate
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT s_suppkey, s_acctbal / 1000.0 AS f0, "
        f"s_nationkey / 10.0 AS f1 FROM read_parquet('{path}') "
        f"ORDER BY s_suppkey").df()
    con.close()
    import numpy as np
    x = pdf[["f0", "f1"]].to_numpy(dtype=float)
    labels, _ = agglomerate(x, "ward", 5, None)
    keys = pdf["s_suppkey"].to_numpy()
    rep = {lab: int(keys[labels == lab].min()) for lab in np.unique(labels)}
    values = ", ".join(
        f"(CAST({int(k)} AS BIGINT), CAST({rep[l]} AS BIGINT))"
        for k, l in zip(keys, labels))
    return (f"SELECT * FROM (VALUES {values}) "
            f"AS t(s_suppkey, cluster_rep)")


# --- stats tests ------------------------------------------------------------
# categorical features: same discretization as NaiveBayes; statistic + dof
# are oracle-checked (p-values come from our own special functions, unit-
# tested separately — DuckDB has no chi2/F CDF).

def chisq_test(spark, sf_dir):
    from ..stats import ChiSqTest
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        F.array(F.floor(F.col("l_quantity") / 10).cast("double"),
                F.floor(F.col("l_discount") * 100 / 4).cast("double"),
                F.col("l_linenumber").cast("double")).alias("features"),
        F.when(F.col("l_returnflag") == "A", 0.0)
        .when(F.col("l_returnflag") == "F", 1.0).otherwise(2.0).alias("label"))
    out = ChiSqTest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0]
    return out.select("featureIndex", q4(F.col("statistic")).alias("stat"),
                      "degreeOfFreedom")


def _chisq_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT {i} AS fi, f{i} AS v, y FROM data" for i in range(len(_NB_F)))
    return f"""
WITH data AS (SELECT {', '.join(f'({f}) AS f{i}' for i, f in enumerate(_NB_F))},
                     {_NB_LABEL} AS y FROM lineitem),
ex AS ({unions}),
obs AS (SELECT fi, v, y, CAST(count(*) AS DOUBLE) o FROM ex GROUP BY fi, v, y),
row_m AS (SELECT fi, v, sum(o) rm FROM obs GROUP BY fi, v),
col_m AS (SELECT fi, y, sum(o) cm FROM obs GROUP BY fi, y),
tot AS (SELECT fi, sum(o) n FROM obs GROUP BY fi),
cells AS (
  SELECT r.fi, r.v, c.y, COALESCE(o.o, 0) AS o, r.rm * c.cm / t.n AS e
  FROM row_m r JOIN col_m c ON r.fi = c.fi JOIN tot t ON t.fi = r.fi
  LEFT JOIN obs o ON o.fi = r.fi AND o.v = r.v AND o.y = c.y),
stats AS (
  SELECT fi, sum((o - e) * (o - e) / e) AS stat,
         (count(DISTINCT v) - 1) * (count(DISTINCT y) - 1) AS dof
  FROM cells GROUP BY fi)
SELECT CAST(fi AS INT) AS featureIndex, {SQL_Q4.format('stat')} AS stat,
       CAST(dof AS BIGINT) AS degreeOfFreedom
FROM stats
"""


CHISQ_SQL = _chisq_sql()


def anova_test(spark, sf_dir):
    from ..stats import ANOVATest
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        F.array((F.col("l_quantity") / 50).cast("double"),
                (F.col("l_extendedprice") / 100000).cast("double")).alias("features"),
        F.when(F.col("l_returnflag") == "A", 0.0)
        .when(F.col("l_returnflag") == "F", 1.0).otherwise(2.0).alias("label"))
    out = ANOVATest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0]
    return out.select("featureIndex", q4(F.col("fValue")).alias("f"),
                      "degreeOfFreedom")


_ANOVA_F = ["l_quantity / 50", "l_extendedprice / 100000"]


def _anova_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT {i} AS fi, CAST({f} AS DOUBLE) AS x, {_NB_LABEL} AS y FROM lineitem"
        for i, f in enumerate(_ANOVA_F))
    return f"""
WITH ex AS ({unions}),
g AS (SELECT fi, y, CAST(count(*) AS DOUBLE) n, sum(x) s, sum(x * x) ss
      FROM ex GROUP BY fi, y),
f AS (
  SELECT fi, sum(n) n, count(*) k, sum(s) ts, sum(ss) tss,
         sum(s * s / n) AS sb
  FROM g GROUP BY fi),
stats AS (
  SELECT fi, (sb - ts * ts / n) / (k - 1)
             / ((tss - ts * ts / n - (sb - ts * ts / n)) / (n - k)) AS fv,
         n - 1 AS dof
  FROM f)
SELECT CAST(fi AS INT) AS featureIndex, {SQL_Q4.format('fv')} AS f,
       CAST(dof AS BIGINT) AS degreeOfFreedom
FROM stats
"""


ANOVA_SQL = _anova_sql()


def fvalue_test(spark, sf_dir):
    from ..stats import FValueTest
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        F.array((F.col("l_quantity") / 50).cast("double"),
                (F.col("l_discount") * 10).cast("double")).alias("features"),
        (F.col("l_extendedprice") / 100000).alias("label"))
    out = FValueTest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0]
    return out.select("featureIndex", q4(F.col("fValue")).alias("f"),
                      "degreeOfFreedom")


_FVAL_F = ["l_quantity / 50", "l_discount * 10"]


def _fvalue_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT {i} AS fi, CAST({f} AS DOUBLE) AS x, "
        "CAST(l_extendedprice / 100000 AS DOUBLE) AS y FROM lineitem"
        for i, f in enumerate(_FVAL_F))
    return f"""
WITH ex AS ({unions}),
c AS (SELECT fi, CAST(count(*) AS DOUBLE) n, corr(x, y) r FROM ex GROUP BY fi)
SELECT CAST(fi AS INT) AS featureIndex,
       {SQL_Q4.format('r * r / (1 - r * r) * (n - 2)')} AS f,
       CAST(n - 2 AS BIGINT) AS degreeOfFreedom
FROM c
"""


FVALUE_SQL = _fvalue_sql()

# --- BinaryClassificationEvaluator -----------------------------------------
# scores from a deterministic "model": score = sigmoid of a fixed linear
# function; label from l_returnflag. AUC/KS oracle via window cumsums.

def binary_evaluator(spark, sf_dir):
    from ..evaluation import BinaryClassificationEvaluator
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        (F.col("l_quantity") / 50 + F.col("l_discount") * 2).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"))
    ev = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score")
    out = ev.transform(df)[0]
    return out.select(q4(F.col("areaUnderROC")).alias("auc"),
                      q4(F.col("areaUnderPR")).alias("pr"),
                      q4(F.col("ks")).alias("ks"),
                      q4(F.col("areaUnderLorenz")).alias("lorenz"))


BINARY_EVALUATOR_SQL = f"""
WITH base AS (
  SELECT l_quantity / 50 + l_discount * 2 AS score,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem),
g AS (SELECT score, CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) pos,
             CAST(sum(CASE WHEN y <> 1.0 THEN 1 ELSE 0 END) AS DOUBLE) neg
      FROM base GROUP BY score),
t AS (SELECT sum(pos) p, sum(neg) n FROM g),
cum AS (
  SELECT score, pos, neg,
         sum(pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) cpd,
         sum(neg) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) cnd
  FROM g),
m AS (
  SELECT sum(pos * ((t.n - cnd) + neg / 2)) u,
         max(abs(cpd / t.p - cnd / t.n)) ks,
         sum((pos / t.p) * ((cpd / (cpd + cnd))
             + (CASE WHEN cpd - pos + cnd - neg = 0 THEN 1.0
                ELSE (cpd - pos) / (cpd - pos + cnd - neg) END)) / 2) pr,
         sum(((pos + neg) / (t.p + t.n)) * ((cpd - pos) + cpd) / t.p / 2) lorenz
  FROM cum, t GROUP BY t.p, t.n)
SELECT {SQL_Q4.format('u / (t.p * t.n)')} AS auc, {SQL_Q4.format('pr')} AS pr,
       {SQL_Q4.format('ks')} AS ks, {SQL_Q4.format('lorenz')} AS lorenz
FROM m, t
"""


def dataflow_pipeline(spark, sf_dir):
    """Driver-green coverage for the dataflow primitives (SURVEY §2.8,
    reference DataStreamUtils): co_group (customer ⋈ orders per key) into
    top_k_per_key (exact top-k per market segment)."""
    import pandas as pd
    from ..common.dataflow import co_group, top_k_per_key
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")

    # co-group on a BUCKETED key, not the raw custkey: cogroup invokes the
    # pandas function once per key, so raw-key granularity is one Python
    # call per customer; a few hundred buckets keep the per-call frames
    # large and the inside vectorized (groupby+merge) — the shape that
    # holds when customers are billions
    def per_bucket(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:  # orders with no customer row: drop (inner semantics)
            return pd.DataFrame({"c_custkey": pd.Series(dtype="int64"),
                                 "c_mktsegment": pd.Series(dtype="object"),
                                 "n_orders": pd.Series(dtype="int64"),
                                 "spend": pd.Series(dtype="float64")})
        agg = (r.groupby("o_custkey")
               .agg(n_orders=("o_orderkey", "size"),
                    spend=("o_totalprice", "sum"))
               if len(r) else pd.DataFrame(columns=["n_orders", "spend"]))
        m = l[["c_custkey", "c_mktsegment"]].merge(
            agg, left_on="c_custkey", right_index=True, how="left")
        m["n_orders"] = m["n_orders"].fillna(0).astype("int64")
        m["spend"] = m["spend"].fillna(0.0).astype("float64")
        return m

    n_buckets = 512
    per_c = co_group(
        cust.withColumn("__b__", F.pmod("c_custkey", F.lit(n_buckets))),
        orders.withColumn("__b__", F.pmod("o_custkey", F.lit(n_buckets))),
        "__b__", "__b__", per_bucket,
        "c_custkey long, c_mktsegment string, n_orders long, spend double")
    top = top_k_per_key(per_c, ["c_mktsegment"],
                        [F.col("spend").desc(), F.col("c_custkey")],
                        5, rank_col="rank")
    return top.select("c_mktsegment", "c_custkey", "n_orders",
                      q4(F.col("spend")).alias("spend"), "rank")


DATAFLOW_PIPELINE_SQL = f"""
WITH per_c AS (
  SELECT c.c_custkey, c.c_mktsegment,
         count(o.o_orderkey) AS n_orders,
         coalesce(sum(o.o_totalprice), 0.0) AS spend
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY spend DESC, c_custkey) AS rank
  FROM per_c)
SELECT c_mktsegment, c_custkey, n_orders,
       {SQL_Q4.format('spend')} AS spend, rank
FROM ranked WHERE rank <= 5
"""


def corr_matrix(spark, sf_dir):
    """Pearson correlation matrix over the embedding column (stats-family
    completion; Spark MLlib's ml.stat.Correlation analogue).  ONE
    zero-shuffle Arrow partial pass (n, Σx, ΣxxT — the PCAWhitener /
    optimizer-allReduce sufficient-statistic shape); the dim×dim ratio
    arithmetic is driver-side, output = dim·(dim+1)/2 scalar rows
    regardless of corpus size."""
    from ..stats import CorrelationMatrix
    emb = load(spark, sf_dir, "embeddings")
    out = CorrelationMatrix(featuresCol="embedding").transform(emb)[0]
    return out.select("i", "j",
                      q4(F.coalesce(F.col("corr"), F.lit(-9))).alias("c"))


CORR_MATRIX_SQL = f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT a.i AS i, b.i AS j,
       {SQL_Q4.format("COALESCE(LEAST(GREATEST(corr(a.x, b.x), -1.0), 1.0), -9)")} AS c
FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""


def regression_evaluator(spark, sf_dir):
    """RegressionEvaluator (mse/rmse/mae/r2) over a deterministic
    pseudo-prediction of l_quantity: one agg pass, one row out."""
    from ..evaluation import RegressionEvaluator
    li = load(spark, sf_dir, "lineitem")
    df = li.select(F.col("l_quantity").cast("double").alias("label"),
                   (25.0 + F.col("l_discount") * 100).alias("prediction"))
    out = RegressionEvaluator(labelCol="label",
                              predictionCol="prediction").transform(df)[0]
    return out.select(F.col("n").cast("long").alias("n"),
                      q4(F.col("mse")).alias("mse"),
                      q4(F.col("rmse")).alias("rmse"),
                      q4(F.col("mae")).alias("mae"),
                      q4(F.col("r2")).alias("r2"))


REGRESSION_EVALUATOR_SQL = f"""
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS y, 25.0 + l_discount * 100 AS p
  FROM lineitem),
a AS (SELECT CAST(count(*) AS DOUBLE) n, sum((p - y) * (p - y)) sse,
             sum(abs(p - y)) sae, sum(y) sy, sum(y * y) syy
      FROM base)
SELECT CAST(n AS BIGINT) AS n, {SQL_Q4.format('sse / n')} AS mse,
       {SQL_Q4.format('sqrt(sse / n)')} AS rmse,
       {SQL_Q4.format('sae / n')} AS mae,
       {SQL_Q4.format('1 - sse / (syy - sy * sy / n)')} AS r2
FROM a
"""


def multiclass_evaluator(spark, sf_dir):
    """MulticlassClassificationEvaluator: 3-class confusion over
    (l_returnflag decoded, l_orderkey % 3) — one groupBy(label,
    prediction) count, driver arithmetic on the K² relation.  Output =
    per-class rows with the summary scalars cross-joined on, so the
    oracle gates per-class AND averaged metrics in one relation."""
    from ..evaluation import MulticlassClassificationEvaluator
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        F.when(F.col("l_returnflag") == "A", 0.0)
         .when(F.col("l_returnflag") == "N", 1.0)
         .otherwise(2.0).alias("label"),
        (F.col("l_orderkey") % 3).cast("double").alias("prediction"))
    per_class, summary = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction").transform(df)
    # summary is one local row — attach as literals; a crossJoin of two
    # driver-local relations plans a CartesianProduct with |lpart|·|rpart|
    # scheduler tasks (measured 12s for 3 rows at 32 default partitions)
    srow = summary.first()
    per_class = (per_class
                 .withColumn("acc", q4(F.lit(srow["accuracy"])))
                 .withColumn("mf1", q4(F.lit(srow["macro_f1"])))
                 .withColumn("wf1", q4(F.lit(srow["weighted_f1"]))))
    return (per_class
            .select(F.col("label").cast("int").alias("label"),
                    F.col("n").cast("long").alias("n"),
                    F.col("tp").cast("long").alias("tp"),
                    F.col("fp").cast("long").alias("fp"),
                    F.col("fn").cast("long").alias("fn"),
                    q4(F.col("precision")).alias("prec"),
                    q4(F.col("recall")).alias("rec"),
                    q4(F.col("f1")).alias("f1"),
                    "acc", "mf1", "wf1"))


MULTICLASS_EVALUATOR_SQL = f"""
WITH base AS (
  SELECT CASE l_returnflag WHEN 'A' THEN 0.0 WHEN 'N' THEN 1.0
         ELSE 2.0 END AS y,
         CAST(l_orderkey % 3 AS DOUBLE) AS p
  FROM lineitem),
cls AS (SELECT DISTINCT y AS k FROM base
        UNION SELECT DISTINCT p FROM base),
per AS (
  SELECT c.k AS label,
         CAST(sum(CASE WHEN b.y = c.k THEN 1 ELSE 0 END) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN b.y = c.k AND b.p = c.k THEN 1 ELSE 0 END)
              AS DOUBLE) AS tp,
         CAST(sum(CASE WHEN b.p = c.k AND b.y <> c.k THEN 1 ELSE 0 END)
              AS DOUBLE) AS fp,
         CAST(sum(CASE WHEN b.y = c.k AND b.p <> c.k THEN 1 ELSE 0 END)
              AS DOUBLE) AS fn
  FROM (SELECT DISTINCT k FROM cls) c CROSS JOIN base b GROUP BY 1),
m AS (
  SELECT label, n, tp, fp, fn,
         CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS prec,
         CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS rec
  FROM per),
f AS (
  SELECT *, CASE WHEN prec + rec > 0
                 THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
  FROM m),
s AS (
  SELECT sum(tp) / sum(n) AS acc,
         avg(f1) FILTER (WHERE n > 0) AS mf1,
         sum(f1 * n) / sum(n) AS wf1
  FROM f)
SELECT CAST(f.label AS INT) AS label, CAST(f.n AS BIGINT) AS n,
       CAST(f.tp AS BIGINT) AS tp, CAST(f.fp AS BIGINT) AS fp,
       CAST(f.fn AS BIGINT) AS fn,
       {SQL_Q4.format('f.prec')} AS prec, {SQL_Q4.format('f.rec')} AS rec,
       {SQL_Q4.format('f.f1')} AS f1, {SQL_Q4.format('s.acc')} AS acc,
       {SQL_Q4.format('s.mf1')} AS mf1, {SQL_Q4.format('s.wf1')} AS wf1
FROM f, s
"""


def ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov: l_extendedprice distribution of
    linestatus 'F' vs 'O' rows.  D via the evaluator's exact
    range-partitioned ECDF; asymptotic p replayed by the oracle's
    Kolmogorov series over generate_series."""
    from ..stats import KolmogorovSmirnovTest
    li = load(spark, sf_dir, "lineitem")
    df = li.select(F.col("l_extendedprice").alias("value"),
                   F.col("l_linestatus").alias("group"))
    out = KolmogorovSmirnovTest(valueCol="value", groupCol="group",
                                groupA="F").transform(df)[0]
    return out.select("n_a", "n_b", q4(F.col("statistic")).alias("d"),
                      q4(F.col("p_value")).alias("p"))


KS_TEST_SQL = f"""
WITH base AS (
  SELECT l_extendedprice AS v,
         CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END AS a
  FROM lineitem),
t AS (SELECT sum(a) AS na, sum(1 - a) AS nb FROM base),
g AS (SELECT v, sum(a) AS ca, sum(1 - a) AS cb FROM base GROUP BY v),
c AS (SELECT sum(ca) OVER (ORDER BY v) AS fa,
             sum(cb) OVER (ORDER BY v) AS fb FROM g),
d AS (SELECT max(abs(fa / t.na - fb / t.nb)) AS d FROM c, t),
lam AS (SELECT d.d,
               (sqrt(t.na * t.nb / (t.na + t.nb)) + 0.12
                + 0.11 / sqrt(t.na * t.nb / (t.na + t.nb))) * d.d AS l
        FROM d, t),
p AS (SELECT LEAST(GREATEST(
         2 * sum(CASE WHEN k % 2 = 1 THEN 1 ELSE -1 END
                 * exp(-2.0 * k * k * lam.l * lam.l)), 0.0), 1.0) AS p
      FROM generate_series(1, 100) s(k), lam GROUP BY lam.l)
SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       {SQL_Q4.format('d.d')} AS d, {SQL_Q4.format('p.p')} AS p
FROM t, d, p
"""


def spearman_corr(spark, sf_dir):
    """Spearman rank correlation (l_quantity vs l_extendedprice):
    average-tie midranks via the range-partition cumsum, exact decimal
    rank sums.  The oracle replays midranks with a window over the
    distinct-value relation; p is driver arithmetic from rho (pytest-
    pinned — incomplete beta isn't SQL-expressible)."""
    from ..stats import SpearmanCorrelation
    li = load(spark, sf_dir, "lineitem")
    out = SpearmanCorrelation(xCol="l_quantity",
                              yCol="l_extendedprice").transform(li)[0]
    return out.select("n", q4(F.col("rho")).alias("rho"))


SPEARMAN_SQL = f"""
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem),
rx AS (SELECT v, 2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS r
       FROM (SELECT x AS v, count(*) AS c FROM base GROUP BY 1)),
ry AS (SELECT v, 2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS r
       FROM (SELECT y AS v, count(*) AS c FROM base GROUP BY 1)),
j AS (SELECT rx.r AS a, ry.r AS b
      FROM base JOIN rx ON base.x = rx.v JOIN ry ON base.y = ry.v),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(a) AS DOUBLE) AS sx, CAST(sum(b) AS DOUBLE) AS sy,
             CAST(sum(a * b) AS DOUBLE) AS sxy,
             CAST(sum(a * a) AS DOUBLE) AS sxx,
             CAST(sum(b * b) AS DOUBLE) AS syy
      FROM j)
SELECT CAST(n AS BIGINT) AS n,
       {SQL_Q4.format('(n * sxy - sx * sy) / '
                      'sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))')}
       AS rho
FROM s
"""


def paired_ttest(spark, sf_dir):
    """PairedTTest over per-order (avg discount, avg tax) pairs — the
    offline A/B comparison primitive.  n / mean_diff / t are oracle-gated;
    the p-value (incomplete beta, not SQL-expressible) is pytest-pinned."""
    from ..stats import PairedTTest
    li = load(spark, sf_dir, "lineitem")
    pairs = (li.groupBy("l_orderkey")
             .agg(F.avg("l_discount").alias("a"), F.avg("l_tax").alias("b")))
    out = PairedTTest(aCol="a", bCol="b").transform(pairs)[0]
    return out.select("n", q4(F.col("mean_diff")).alias("mean_diff"),
                      q4(F.col("t")).alias("t"))


PAIRED_TTEST_SQL = f"""
WITH pairs AS (
  SELECT avg(l_discount) AS a, avg(l_tax) AS b
  FROM lineitem GROUP BY l_orderkey),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(b - a) AS sd,
             sum((b - a) * (b - a)) AS sdd
      FROM pairs),
m AS (SELECT n, sd / n AS mean,
             (sdd - n * (sd / n) * (sd / n)) / (n - 1) AS var
      FROM s)
SELECT CAST(n AS BIGINT) AS n, {SQL_Q4.format('mean')} AS mean_diff,
       {SQL_Q4.format('mean / sqrt(var / n)')} AS t
FROM m
"""


def conformal_interval(spark, sf_dir):
    """ConformalRegressor: split-conformal q on a calibration split
    (k-th order statistic via range-partition cumsum), then held-out
    coverage counts per linestatus — n_cov/n ≥ 0.8 by the conformal
    guarantee.  Integer-exact contract: (n, n_cov) counts plus q — an
    order-statistic DATA VALUE (|25 + 100·disc − qty|, 2-dp precision),
    never a computed ratio; the float coverage rate and the conformal
    guarantee itself stay under the pytest oracle
    (tests/test_stats_eval.py)."""
    from ..regression import ConformalRegressor
    li = load(spark, sf_dir, "lineitem")
    base = li.select(F.col("l_orderkey").alias("k"),
                     F.col("l_linestatus").alias("ls"),
                     F.col("l_quantity").cast("double").alias("label"),
                     (25.0 + F.col("l_discount") * 100).alias("prediction"))
    calib = base.filter(F.col("k") % 5 < 4)
    holdout = base.filter(F.col("k") % 5 == 4)
    model = ConformalRegressor(alpha=0.2, labelCol="label",
                               predictionCol="prediction").fit(calib)
    ev = model.transform(holdout)[0]
    cov = ((F.col("label") >= F.col("lower"))
           & (F.col("label") <= F.col("upper"))).cast("long")
    return (ev.groupBy("ls")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cov).alias("n_cov"))
            .withColumn("q_c", F.round(F.lit(model.model_data["q"]) * 100)
                        .cast("long")))


CONFORMAL_SQL = """
WITH base AS (
  SELECT l_orderkey AS k, l_linestatus AS ls,
         CAST(l_quantity AS DOUBLE) AS y,
         25.0 + l_discount * 100 AS p
  FROM lineitem),
calib AS (SELECT abs(p - y) AS s FROM base WHERE k % 5 < 4),
nk AS (SELECT CAST(count(*) AS BIGINT) AS n,
              -- exact integer rank: ceil((n+1)*(1-1/5)) = ((n+1)*4+4)//5
              ((count(*) + 1) * 4 + 4) // 5 AS kk
       FROM calib),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cc FROM (
          SELECT s AS v, count(*) AS c FROM calib GROUP BY 1)),
qv AS (SELECT min(v) AS q FROM cum, nk WHERE cc >= nk.kk),
ev AS (SELECT ls,
              CASE WHEN y >= p - qv.q AND y <= p + qv.q
                   THEN 1 ELSE 0 END AS cov
       FROM base, qv WHERE k % 5 = 4)
SELECT ls, count(*) AS n, CAST(sum(cov) AS BIGINT) AS n_cov,
       CAST(ROUND(qv.q * 100) AS BIGINT) AS q_c
FROM ev, qv GROUP BY ls, qv.q
"""


def target_encoding(spark, sf_dir):
    """TargetEncoder out-of-fold: returnflag||linestatus encoded against
    l_quantity
    with deterministic LCG folds keyed on l_orderkey (same order → same
    fold: group-level leakage safety).  One row per (category, fold):
    the shared OOF encoding value and its row count."""
    from ..feature import TargetEncoder
    li = load(spark, sf_dir, "lineitem")
    df = li.select(F.col("l_orderkey").alias("id"),
                   F.concat(F.col("l_returnflag"),
                            F.col("l_linestatus")).alias("category"),
                   F.col("l_quantity").cast("double").alias("label"))
    model = TargetEncoder(inputCol="category", labelCol="label",
                          smoothing=20.0).fit(df)
    model.set(type(model).numFolds, 5)
    enc = model.transform_oof(df)
    inner = ((F.col("id") % 2147483648) + 2147483648) % 2147483648
    fold = ((((inner * 2654435761 + 7) % 2147483648) + 2147483648)
            % 2147483648 % 5).cast("int")
    return (enc.withColumn("fold", fold)
            .groupBy("category", "fold")
            .agg(F.count(F.lit(1)).alias("n"),
                 q4(F.min("encoded")).alias("enc")))


TARGET_ENCODING_SQL = f"""
WITH base AS (
  SELECT l_returnflag || l_linestatus AS category, CAST(l_quantity AS DOUBLE) AS y,
         CAST(((l_orderkey % 2147483648) * 2654435761 + 7) % 2147483648
              % 5 AS INT) AS fold
  FROM lineitem),
pcf AS (SELECT category, fold, count(*) AS nf, sum(y) AS sf
        FROM base GROUP BY 1, 2),
fullc AS (SELECT category, sum(nf) AS n, sum(sf) AS s
          FROM pcf GROUP BY 1),
prior AS (SELECT sum(s) / sum(n) AS p FROM fullc)
SELECT pcf.category, pcf.fold, pcf.nf AS n,
       {SQL_Q4.format('((fullc.s - pcf.sf) + 20.0 * prior.p) '
                      '/ ((fullc.n - pcf.nf) + 20.0)')} AS enc
FROM pcf JOIN fullc USING (category), prior
"""


def sliced_auc(spark, sf_dir):
    """SlicedBinaryClassificationEvaluator: per-linestatus tie-aware AUC
    in ONE pass (Mann–Whitney midrank identity over group-partitioned
    windows) — must agree with the global evaluator run per slice."""
    from ..evaluation import SlicedBinaryClassificationEvaluator
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_linestatus").alias("grp"),
        (F.col("l_quantity") / 50 + F.col("l_discount") * 2).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
        .alias("label"))
    ev = SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score")
    out = ev.transform(df)[0]
    return out.select("grp", "n", "n_pos", q4(F.col("auc")).alias("auc"))


SLICED_AUC_SQL = f"""
WITH base AS (
  SELECT l_linestatus AS grp, l_quantity / 50 + l_discount * 2 AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS p
  FROM lineitem),
g AS (SELECT grp, s, sum(p) AS pos, count(*) AS tot
      FROM base GROUP BY 1, 2),
r AS (SELECT grp, pos, tot,
             2 * (sum(tot) OVER (PARTITION BY grp ORDER BY s
                                 ROWS UNBOUNDED PRECEDING) - tot)
             + tot + 1 AS m2
      FROM g),
a AS (SELECT grp, CAST(sum(pos) AS DOUBLE) AS P,
             CAST(sum(tot - pos) AS DOUBLE) AS N,
             CAST(sum(pos * m2) AS DOUBLE) AS r2sum
      FROM r GROUP BY 1)
SELECT grp, CAST(P + N AS BIGINT) AS n, CAST(P AS BIGINT) AS n_pos,
       {SQL_Q4.format('(r2sum / 2.0 - P * (P + 1) / 2.0) / (P * N)')} AS auc
FROM a
"""


def cross_validation(spark, sf_dir):
    """CrossValidator(Knn, grid k∈{1,5}, 3 deterministic LCG folds,
    metric=n_correct): the full tuning report — per (param, fold)
    integer correct counts plus the winning param — is exactly
    replayable because folds, k-NN tie-breaks (distance → train
    vec_id; vote → count desc, label asc) and the integer metric are
    all engine-independent.  Input ordered by vec_id so the packed
    train-block order equals the oracle's tid tie-break order (the
    ``knn`` query convention)."""
    from ..classification import Knn as _Knn
    from ..tuning import CrossValidator
    emb = load(spark, sf_dir, "embeddings")
    df = (emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("features"),
            F.col("label").cast("double").alias("label"))
          .orderBy("id"))
    # parallelism: the 6 (param, fold) fits are independent and the
    # tuner's results are identical at any parallelism (tuning.py
    # contract) — overlap them so fold jobs back-fill idle cores
    # (guide §2.6)
    cv = CrossValidator(_Knn(), [{"k": 1}, {"k": 5}], numFolds=3,
                        metric="n_correct", idCol="id", parallelism=6)
    m = cv.fit(df)
    rep = m.metrics_df(spark)
    ks = {0: 1, 1: 5}
    kcol = F.when(F.col("param_index") == 0, ks[0]).otherwise(ks[1])
    return rep.select("param_index", kcol.alias("k"), "fold",
                      F.col("metric").cast("long").alias("n_correct"),
                      F.col("best").cast("int").alias("best"))


CROSS_VALIDATION_SQL = """
WITH eh AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) v, CAST(label AS DOUBLE) y,
         (((((vec_id % 2147483648) + 2147483648) % 2147483648)
           * 2654435761 + 7) % 2147483648 + 2147483648)
         % 2147483648 AS h
  FROM embeddings),
e AS (SELECT vec_id, v, y,
             CAST(xor(h, h >> 16) % 3 AS INT) AS f
      FROM eh),
params AS (SELECT * FROM (VALUES (0, 1), (1, 5)) AS t(pi, k)),
-- distances and neighbor ranks are param-independent: compute once,
-- slice per k
ranked AS (
  SELECT fold, qid, qy, ny, rn FROM (
    SELECT a.f AS fold, a.vec_id AS qid, a.y AS qy, b.y AS ny,
           row_number() OVER (
             PARTITION BY a.f, a.vec_id
             ORDER BY list_inner_product(a.v, a.v)
                      - 2 * list_inner_product(a.v, b.v)
                      + list_inner_product(b.v, b.v) ASC,
                      b.vec_id ASC) AS rn
    FROM e a JOIN e b ON b.f <> a.f)
  WHERE rn <= 5),
nn AS (SELECT p.pi, p.k, r.fold, r.qid, r.qy, r.ny
       FROM ranked r CROSS JOIN params p WHERE r.rn <= p.k),
votes AS (SELECT pi, k, fold, qid, qy, ny, count(*) AS c
          FROM nn GROUP BY ALL),
pred AS (SELECT pi, k, fold, qid, qy, ny AS pred FROM votes
         QUALIFY row_number() OVER (PARTITION BY pi, fold, qid
                                    ORDER BY c DESC, ny ASC) = 1),
perfold AS (SELECT pi, k, fold,
                   CAST(sum(CASE WHEN pred = qy THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct
            FROM pred GROUP BY ALL),
tot AS (SELECT pi, sum(n_correct) AS t FROM perfold GROUP BY 1),
best AS (SELECT pi FROM tot QUALIFY
         row_number() OVER (ORDER BY t DESC, pi ASC) = 1)
SELECT pf.pi AS param_index, pf.k, pf.fold, pf.n_correct,
       CASE WHEN pf.pi = best.pi THEN 1 ELSE 0 END AS best
FROM perfold pf CROSS JOIN best
"""


def platt_calibration(spark, sf_dir):
    """PlattCalibrator: sigmoid calibration σ(A·s + B) of a synthetic
    score against the returnflag label, Platt target smoothing on, full
    SQL fit replay — the GD trajectory snaps to the 12-dp grid each
    round (weightRounding=12, the linear-learner discipline) so the
    recursive CTE reproduces (A, B) and every calibrated probability
    exactly."""
    from ..regression import PlattCalibrator
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        (F.col("l_quantity") / 50 + F.col("l_discount") * 2)
        .alias("score"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
        .alias("label"))
    m = PlattCalibrator(maxIter=GD_ITERS, learningRate=GD_LR, tol=0.0,
                        globalBatchSize=1 << 40,
                        weightRounding=12).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY, q4(F.col("calibrated")).alias("cal"))


def _platt_sql(iters: int, lr: float) -> str:
    sig = "1.0/(1.0 + exp(-(w0 * x0 + w1 * x1)))"
    return f"""
WITH RECURSIVE data AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity / 50 + l_discount * 2 AS x0, 1.0 AS x1,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS yb
  FROM lineitem),
tgt AS (
  SELECT l_orderkey, l_linenumber, x0, x1,
         CASE WHEN yb = 1.0 THEN (np + 1.0) / (np + 2.0)
              ELSE 1.0 / (nn + 2.0) END AS y
  FROM data,
       (SELECT sum(yb) AS np, count(*) - sum(yb) AS nn FROM data)),
it(i, w0, w1) AS (
  SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
  UNION ALL
  SELECT i + 1,
    round(w0 - {lr} * (SELECT avg(({sig} - y) * x0) FROM tgt), 12),
    round(w1 - {lr} * (SELECT avg(({sig} - y) * x1) FROM tgt), 12)
  FROM it WHERE i < {iters}),
w AS (SELECT w0, w1 FROM it ORDER BY i DESC LIMIT 1)
SELECT t.l_orderkey, t.l_linenumber,
       {SQL_Q4.format('1.0/(1.0 + exp(-(w.w0 * t.x0 + w.w1 * t.x1)))')}
         AS cal
FROM tgt t, w
"""


PLATT_SQL = _platt_sql(GD_ITERS, GD_LR)


def als(spark, sf_dir):
    """ALS rank-2, 3 alternation rounds on (supplier, part, avg qty)
    ratings — every normal-equation sum is an exact decimal integer and
    factors live on a 1e-6 grid, so the ENTIRE iterative fit is
    bit-identical across engines and partitionings; the oracle replays
    init + all six half-steps as a generated CTE chain.  Output: scored
    ratings for a deterministic 1/11 slice of the pairs."""
    from ..recommendation import ALS as _ALS
    li = load(spark, sf_dir, "lineitem")
    ratings = (li.groupBy(F.col("l_suppkey").alias("u"),
                          F.col("l_partkey").alias("i"))
               .agg((F.sum(F.col("l_quantity").cast("long"))
                     .cast("double") / F.count(F.lit(1))).alias("rating")))
    m = _ALS(userCol="u", itemCol="i", ratingCol="rating",
             rank=2, maxIter=3, regParam=0.1).fit(ratings)
    out = m.transform(
        ratings.filter((F.col("u") * 31 + F.col("i")) % 11 == 0))[0]
    return out.select("u", "i", q4(F.col("prediction")).alias("pred"))


def _als_sql(iters: int = 3, lam: float = 0.1, scale: int = 10 ** 6,
             salt: int = 7) -> str:
    """Generated replay of the deterministic fixed-point ALS run (the
    _kmeans_sql pattern): LCG init, then per round one user half-step
    and one item half-step, each = HUGEINT-exact gram/rhs sums + the
    rank-2 closed-form solve re-snapped to the factor grid."""
    m, mult = 2147483648, 2654435761
    lam_s = repr(float(lam) * scale * scale)

    def init_f(j: int) -> str:
        return (f"((((i % {m}) + {m}) % {m}) * {mult} + {salt + j}) "
                f"% {m} % {scale // 5} + {scale // 10}")

    def half(t: str, src: str, fkey: str, okey: str) -> str:
        g = (f"s{t} AS (SELECT r.{okey}, "
             f"sum(CAST(q.f0*q.f0 AS HUGEINT)) AS g00, "
             f"sum(CAST(q.f0*q.f1 AS HUGEINT)) AS g01, "
             f"sum(CAST(q.f1*q.f1 AS HUGEINT)) AS g11, "
             f"sum(CAST(q.f0*r.r AS HUGEINT)) AS v0, "
             f"sum(CAST(q.f1*r.r AS HUGEINT)) AS v1 "
             f"FROM ratings r JOIN {src} q USING ({fkey}) GROUP BY 1)")
        a = f"(CAST(g00 AS DOUBLE) + {lam_s})"
        b = "CAST(g01 AS DOUBLE)"
        c = f"(CAST(g11 AS DOUBLE) + {lam_s})"
        det = f"({a} * {c} - {b} * {b})"
        f0 = (f"CAST(ROUND(({c} * CAST(v0 AS DOUBLE) - {b} * "
              f"CAST(v1 AS DOUBLE)) / {det} * {scale}) AS BIGINT)")
        f1 = (f"CAST(ROUND(({a} * CAST(v1 AS DOUBLE) - {b} * "
              f"CAST(v0 AS DOUBLE)) / {det} * {scale}) AS BIGINT)")
        return (f"{g},\n{t} AS (SELECT {okey}, {f0} AS f0, {f1} AS f1 "
                f"FROM s{t})")

    ctes = [
        ("ratings AS (SELECT l_suppkey AS u, l_partkey AS i, "
         "CAST(ROUND(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) "
         f"/ count(*) * {scale}) AS BIGINT) AS r "
         "FROM lineitem GROUP BY 1, 2)"),
        (f"q0 AS (SELECT DISTINCT i, {init_f(0)} AS f0, "
         f"{init_f(1)} AS f1 FROM ratings)"),
    ]
    prev_q = "q0"
    for t in range(1, iters + 1):
        ctes.append(half(f"p{t}", prev_q, "i", "u"))
        ctes.append(half(f"q{t}", f"p{t}", "u", "i"))
        prev_q = f"q{t}"
    final = (
        f"SELECT r.u, r.i, "
        + SQL_Q4.format(
            f"CAST(CAST(p.f0 AS HUGEINT) * q.f0 "
            f"+ CAST(p.f1 AS HUGEINT) * q.f1 AS DOUBLE) "
            f"/ ({scale}.0 * {scale})")
        + f" AS pred FROM ratings r JOIN p{iters} p USING (u) "
        f"JOIN {prev_q} q USING (i) WHERE (r.u * 31 + r.i) % 11 = 0")
    return "WITH " + ",\n".join(ctes) + "\n" + final


ALS_SQL = _als_sql()


def als_recommend(spark, sf_dir):
    """ALSModel.recommend_for_users: exact top-5 items for a 1/50 user
    slice via broadcast item factors + per-user top-k.  Scores are exact
    integer dot products on the factor grid, so ranking ties break
    identically in both engines (score desc, item asc)."""
    from ..recommendation import ALS as _ALS
    li = load(spark, sf_dir, "lineitem")
    ratings = (li.groupBy(F.col("l_suppkey").alias("u"),
                          F.col("l_partkey").alias("i"))
               .agg((F.sum(F.col("l_quantity").cast("long"))
                     .cast("double") / F.count(F.lit(1))).alias("rating")))
    m = _ALS(userCol="u", itemCol="i", ratingCol="rating",
             rank=2, maxIter=3, regParam=0.1).fit(ratings)
    users = ratings.select("u").distinct().filter(F.col("u") % 50 == 0)
    out = m.recommend_for_users(users, k=5)
    return out.select("u", "i", q4(F.col("score")).alias("score"), "rank")


def _als_recommend_sql() -> str:
    base = _als_sql()
    head, _, _ = base.rpartition("SELECT r.u")
    scale = 10 ** 6
    return (head
            + "SELECT u, i, "
            + SQL_Q4.format(
                f"CAST(CAST(p.f0 AS HUGEINT) * q.f0 "
                f"+ CAST(p.f1 AS HUGEINT) * q.f1 AS DOUBLE) "
                f"/ ({scale}.0 * {scale})")
            + " AS score, CAST(row_number() OVER (PARTITION BY u ORDER BY "
            f"CAST(CAST(p.f0 AS HUGEINT) * q.f0 "
            f"+ CAST(p.f1 AS HUGEINT) * q.f1 AS DOUBLE) DESC, i ASC) "
            "AS INT) AS rank "
            "FROM p3 p CROSS JOIN q3 q WHERE u % 50 = 0 "
            "QUALIFY rank <= 5")


ALS_RECOMMEND_SQL = _als_recommend_sql()


TREE_FEATS = ["l_discount * 10", "l_tax * 10", "l_quantity / 50"]
TREE_LABEL = "l_extendedprice / 1000"
TREE_DEPTH, TREE_BINS, TREE_SCALE = 2, 8, 100


def decision_tree(spark, sf_dir):
    """DecisionTreeRegressor (histogram CART, depth 2, uniform bins,
    1e-2 label grid): the fit is bit-exact — integer histogram sums,
    exact-rational gain comparisons — so the oracle replays BOTH fit
    levels (stats → valid candidates → anti-join argmax with HUGEINT
    cross-multiplied gains → node advancement) and then scores every
    row through the same tree.  labelScale=2 keeps every cross-product
    inside HUGEINT at sf0.1 (the operator itself uses Python bigints —
    no bound)."""
    from ..regression import DecisionTreeRegressor
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.expr(TREE_FEATS[0]), F.expr(TREE_FEATS[1]),
                F.expr(TREE_FEATS[2])).alias("features"),
        F.expr(TREE_LABEL).alias("label"))
    m = DecisionTreeRegressor(maxDepth=TREE_DEPTH, maxBins=TREE_BINS,
                              labelScale=2).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY, q4(F.col("prediction")).alias("pred"))


def _tree_chain(pref: str, rows0: str, depth: int, dim: int, nthr: int,
                scale: int, carry: list[str]) -> tuple[list[str], str, str]:
    """CTE chain replaying one bit-exact tree fit: per level, histogram
    stats (HUGEINT sums) → valid split candidates (exact positive-gain
    filter) → argmax via anti-joined integer cross-multiplication →
    node advancement.  ``carry`` columns pass through untouched.
    Returns (ctes, final_rows_cte, leaves_cte)."""
    bsel = " ".join(f"WHEN {i} THEN b{i}" for i in range(dim))
    keep = [f"x{i}" for i in range(dim)] + [f"b{i}" for i in range(dim)] \
        + ["y"] + carry
    ctes = []
    for t in range(depth):
        rows = rows0 if t == 0 else f"{pref}r{t}"
        unpiv = " UNION ALL ".join(
            f"SELECT node, {i} AS f, b{i} AS b, y FROM {rows}"
            for i in range(dim))
        ctes.append(f"""
{pref}st{t} AS MATERIALIZED (SELECT node, f, b, count(*) AS n,
                 sum(CAST(y AS HUGEINT)) AS s
          FROM ({unpiv}) GROUP BY ALL),
{pref}tot{t} AS (SELECT node, sum(n) AS nt, sum(s) AS st
           FROM {pref}st{t} WHERE f = 0 GROUP BY 1),
{pref}cum{t} AS (SELECT node, f, b,
                  sum(n) OVER (PARTITION BY node, f ORDER BY b) AS nl,
                  sum(s) OVER (PARTITION BY node, f ORDER BY b) AS sl
           FROM {pref}st{t}),
{pref}cand{t} AS MATERIALIZED (
  SELECT c.node, c.f, c.b,
         c.sl * c.sl * (t.nt - c.nl)
           + (t.st - c.sl) * (t.st - c.sl) * c.nl AS num,
         c.nl * (t.nt - c.nl) AS den
  FROM {pref}cum{t} c JOIN {pref}tot{t} t USING (node)
  WHERE c.b < {nthr} AND c.nl >= 1 AND t.nt - c.nl >= 1
    AND (c.sl * c.sl * (t.nt - c.nl)
         + (t.st - c.sl) * (t.st - c.sl) * c.nl) * t.nt
        > t.st * t.st * (c.nl * (t.nt - c.nl))),
{pref}best{t} AS (
  SELECT node, f, b FROM {pref}cand{t} c
  WHERE NOT EXISTS (SELECT 1 FROM {pref}cand{t} d WHERE d.node = c.node
    AND (d.num * c.den > c.num * d.den OR (d.num * c.den = c.num * d.den
     AND (d.f < c.f OR (d.f = c.f AND d.b < c.b)))))),
{pref}r{t + 1} AS MATERIALIZED (
  SELECT {', '.join(f'r.{c}' for c in keep)},
         CASE WHEN s.node IS NULL THEN r.node
              WHEN (CASE s.f {bsel} END) <= s.b THEN 2 * r.node + 1
              ELSE 2 * r.node + 2 END AS node
  FROM {rows} r LEFT JOIN {pref}best{t} s ON s.node = r.node)""")
    final_rows = f"{pref}r{depth}"
    ctes.append(
        f"{pref}leaves AS (SELECT node, CAST(sum(CAST(y AS HUGEINT)) "
        f"AS DOUBLE) / count(*) / {scale} AS v "
        f"FROM {final_rows} GROUP BY 1)")
    return ctes, final_rows, f"{pref}leaves"


def _tree_base_ctes(dim: int, bins: int, label: str = TREE_LABEL,
                    feats: list[str] | None = None,
                    table: str = "lineitem",
                    keys_sql: str = "l_orderkey AS k1, "
                                    "l_linenumber AS k2") -> list[str]:
    """Shared feature/bin plumbing: per-feature global edges + the
    threshold-count bin columns (identical every boosting round).
    Parameterized over table/features/label so tree replays compose
    into other tables' pipelines (llm_prep_pipeline_v13)."""
    fx = feats if feats is not None else TREE_FEATS
    nthr = bins - 1
    edges = ", ".join(
        f"CAST(min({fx[i]}) AS DOUBLE) AS lo{i}, "
        f"CAST(max({fx[i]}) AS DOUBLE) AS hi{i}"
        for i in range(dim))
    thr = {(i, b): f"(e.lo{i} + (e.hi{i} - e.lo{i}) / {bins} * {b + 1})"
           for i in range(dim) for b in range(nthr)}
    bin_exprs = ", ".join(
        "(" + " + ".join(
            f"CASE WHEN x{i} > {thr[(i, b)]} THEN 1 ELSE 0 END"
            for b in range(nthr)) + f") AS b{i}"
        for i in range(dim))
    fsel = ", ".join(f"{fx[i]} AS x{i}" for i in range(dim))
    return [f"e AS (SELECT {edges} FROM {table})",
            (f"base AS MATERIALIZED (SELECT "
             f"{', '.join(f'x{i}' for i in range(dim))}, {bin_exprs}, "
             f"ly, k1, k2 FROM (SELECT {fsel}, "
             f"CAST(({label}) AS DOUBLE) AS ly, "
             f"{keys_sql} "
             f"FROM {table}) CROSS JOIN e)")]


def _decision_tree_sql() -> str:
    dim, bins, scale = len(TREE_FEATS), TREE_BINS, TREE_SCALE
    ctes = _tree_base_ctes(dim, bins)
    ctes.append(
        f"r0 AS MATERIALIZED (SELECT * EXCLUDE (ly), "
        f"CAST(ROUND(ly * {scale}) AS BIGINT) AS y, 0 AS node FROM base)")
    chain, final_rows, leaves = _tree_chain(
        "", "r0", TREE_DEPTH, dim, bins - 1, scale, ["k1", "k2"])
    ctes += chain
    final = (f"SELECT r.k1 AS l_orderkey, r.k2 AS l_linenumber, "
             + SQL_Q4.format("l.v")
             + f" AS pred FROM {final_rows} r JOIN {leaves} l "
             f"USING (node)")
    return "WITH " + ",\n".join(ctes) + "\n" + final


DECISION_TREE_SQL = _decision_tree_sql()

TREE_CLS_LABEL = "CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END"


def decision_tree_splits(spark, sf_dir):
    """Model introspection relation: the fitted tree's split nodes
    ``(node, feat, bin, thr)`` — because split selection is bit-exact
    (integer histograms, exact-rational gains), the STRUCTURE of the
    model is itself oracle-checkable: the SQL replay's per-level best
    CTEs must produce the identical relation.  The float gain-based
    ``feature_importances()`` stays under the pytest oracle
    (tests/test_tree.py)."""
    from ..regression import DecisionTreeRegressor
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.expr(TREE_FEATS[0]), F.expr(TREE_FEATS[1]),
                F.expr(TREE_FEATS[2])).alias("features"),
        F.expr(TREE_LABEL).alias("label"))
    m = DecisionTreeRegressor(maxDepth=TREE_DEPTH, maxBins=TREE_BINS,
                              labelScale=2).fit(df)
    sp = m.splits_df(spark)
    return sp.select("node", "feat", "bin", q4(F.col("thr")).alias("thr"))


def _decision_tree_splits_sql() -> str:
    dim, bins, scale = len(TREE_FEATS), TREE_BINS, TREE_SCALE
    ctes = _tree_base_ctes(dim, bins)
    ctes.append(
        f"r0 AS MATERIALIZED (SELECT * EXCLUDE (ly), "
        f"CAST(ROUND(ly * {scale}) AS BIGINT) AS y, 0 AS node FROM base)")
    chain, _, _ = _tree_chain("", "r0", TREE_DEPTH, dim, bins - 1,
                              scale, ["k1", "k2"])
    ctes += chain
    union = " UNION ALL ".join(
        f"SELECT node, f, b FROM best{t}" for t in range(TREE_DEPTH))
    thr = " ".join(
        f"WHEN {i} THEN e.lo{i} + (e.hi{i} - e.lo{i}) / {bins} * (u.b + 1)"
        for i in range(dim))
    final = (f"SELECT u.node, u.f AS feat, u.b AS bin, "
             + SQL_Q4.format(f"CASE u.f {thr} END")
             + f" AS thr FROM ({union}) u CROSS JOIN e")
    return "WITH " + ",\n".join(ctes) + "\n" + final


DECISION_TREE_SPLITS_SQL = _decision_tree_splits_sql()


def decision_tree_cls(spark, sf_dir):
    """DecisionTreeClassifier (binary, Gini ≡ variance split on 0/1
    labels): same bit-exact fit replay as decision_tree with grid
    scale 1 (labels already integral); output = class + leaf rate."""
    from ..regression import DecisionTreeClassifier
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.expr(TREE_FEATS[0]), F.expr(TREE_FEATS[1]),
                F.expr(TREE_FEATS[2])).alias("features"),
        F.expr(TREE_CLS_LABEL).alias("label"))
    m = DecisionTreeClassifier(maxDepth=TREE_DEPTH,
                               maxBins=TREE_BINS).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY,
                      F.col("prediction").cast("int").alias("cls"),
                      q4(F.col("probability")).alias("prob"))


def _decision_tree_cls_sql() -> str:
    dim, bins = len(TREE_FEATS), TREE_BINS
    ctes = _tree_base_ctes(dim, bins, label=TREE_CLS_LABEL)
    ctes.append(
        "r0 AS MATERIALIZED (SELECT * EXCLUDE (ly), "
        "CAST(ROUND(ly) AS BIGINT) AS y, 0 AS node FROM base)")
    chain, final_rows, leaves = _tree_chain(
        "", "r0", TREE_DEPTH, dim, bins - 1, 1, ["k1", "k2"])
    ctes += chain
    final = (f"SELECT r.k1 AS l_orderkey, r.k2 AS l_linenumber, "
             f"CAST(CASE WHEN l.v > 0.5 THEN 1 ELSE 0 END AS INT) AS cls, "
             + SQL_Q4.format("l.v")
             + f" AS prob FROM {final_rows} r JOIN {leaves} l "
             f"USING (node)")
    return "WITH " + ",\n".join(ctes) + "\n" + final


DECISION_TREE_CLS_SQL = _decision_tree_cls_sql()

RF_TREES, RF_PCT, RF_SALT, RF_DEPTH = 2, 70, 7, 2


def random_forest(spark, sf_dir):
    """RandomForestRegressor (2 trees, depth 2, deterministic 70% LCG
    bagging on a derived row id): each tree's bit-exact fit replays on
    its subsample, then EVERY row scores through both trees (the bin ≤
    split ⟺ x ≤ thr lemma) and predictions average."""
    from ..regression import RandomForestRegressor
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rid"),
        F.array(F.expr(TREE_FEATS[0]), F.expr(TREE_FEATS[1]),
                F.expr(TREE_FEATS[2])).alias("features"),
        F.expr(TREE_LABEL).alias("label"))
    # parallelism: tree fits are independent, deterministic and
    # result-identical at any value (forest.py contract) — overlapping
    # them back-fills the scheduler tail (guide §2.6)
    m = RandomForestRegressor(numTrees=RF_TREES, maxDepth=RF_DEPTH,
                              maxBins=TREE_BINS, idCol="rid",
                              subsamplePct=RF_PCT, bagSalt=RF_SALT,
                              labelScale=2, parallelism=RF_TREES).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY, q4(F.col("prediction")).alias("pred"))


def _random_forest_sql() -> str:
    dim, bins, scale = len(TREE_FEATS), TREE_BINS, TREE_SCALE
    m, mult = 2147483648, 2654435761
    ctes = _tree_base_ctes(dim, bins)
    # base carries the bagging id
    ctes[1] = ctes[1].replace(
        "l_orderkey AS k1, l_linenumber AS k2 ",
        "l_orderkey AS k1, l_linenumber AS k2, "
        "l_orderkey * 8 + l_linenumber AS rid ").replace(
        "ly, k1, k2 FROM", "ly, k1, k2, rid FROM")
    bsel = " ".join(f"WHEN {i} THEN b{i}" for i in range(dim))
    for t in range(RF_TREES):
        keep = (f"(((((rid % {m}) + {m}) % {m}) * {mult} "
                f"+ {RF_SALT + t}) % {m} + {m}) % {m} % 100 < {RF_PCT}")
        ctes.append(
            f"rf{t}r0 AS MATERIALIZED (SELECT * EXCLUDE (ly, rid), "
            f"CAST(ROUND(ly * {scale}) AS BIGINT) AS y, 0 AS node "
            f"FROM base WHERE {keep})")
        chain, _, _ = _tree_chain(
            f"rf{t}", f"rf{t}r0", RF_DEPTH, dim, bins - 1, scale,
            ["k1", "k2"])
        ctes += chain
    # score EVERY row through all trees in ONE chain — row identity is
    # positional (the data's (orderkey, linenumber) key is NOT unique),
    # so per-tree node columns ride along instead of re-joining on keys
    prev = "base"
    for lvl in range(RF_DEPTH):
        nxt = f"scl{lvl + 1}"
        sel = ("r.k1, r.k2, "
               + ", ".join(f"r.b{i}" for i in range(dim)))
        upd = []
        joins = []
        for t in range(RF_TREES):
            node_in = "0" if lvl == 0 else f"r.n{t}"
            upd.append(
                f"CASE WHEN s{t}.node IS NULL THEN {node_in} "
                f"WHEN (CASE s{t}.f {bsel} END) <= s{t}.b "
                f"THEN 2 * {node_in} + 1 "
                f"ELSE 2 * {node_in} + 2 END AS n{t}")
            joins.append(f"LEFT JOIN rf{t}best{lvl} s{t} "
                         f"ON s{t}.node = {node_in}")
        ctes.append(f"{nxt} AS MATERIALIZED (SELECT {sel}, "
                    + ", ".join(upd) + f" FROM {prev} r "
                    + " ".join(joins) + ")")
        prev = nxt
    leaf_joins = " ".join(
        f"JOIN rf{t}leaves l{t} ON l{t}.node = r.n{t}"
        for t in range(RF_TREES))
    avg = "(" + " + ".join(f"l{t}.v" for t in range(RF_TREES)) \
        + f") / {RF_TREES}"
    final = (f"SELECT r.k1 AS l_orderkey, r.k2 AS l_linenumber, "
             + SQL_Q4.format(avg)
             + f" AS pred FROM {prev} r {leaf_joins}")
    return "WITH " + ",\n".join(ctes) + "\n" + final


RANDOM_FOREST_SQL = _random_forest_sql()

GBT_ROUNDS, GBT_ETA, GBT_DEPTH = 2, 0.5, 2


def gbt(spark, sf_dir):
    """GBTRegressor (2 rounds, depth-2 trees, η=0.5 — a dyadic rational
    so shrinkage arithmetic is exact in both engines): the oracle
    replays F0 (exact grid mean), BOTH bit-exact tree fits on the
    residual chain, and the accumulated prediction."""
    from ..regression import GBTRegressor
    li = load(spark, sf_dir, "lineitem")
    df = li.select(
        *KEY,
        F.array(F.expr(TREE_FEATS[0]), F.expr(TREE_FEATS[1]),
                F.expr(TREE_FEATS[2])).alias("features"),
        F.expr(TREE_LABEL).alias("label"))
    m = GBTRegressor(numTrees=GBT_ROUNDS, maxDepth=GBT_DEPTH,
                     maxBins=TREE_BINS, learningRate=GBT_ETA,
                     labelScale=2).fit(df)
    out = m.transform(df)[0]
    return out.select(*KEY, q4(F.col("prediction")).alias("pred"))


def _gbt_sql() -> str:
    dim, bins, scale = len(TREE_FEATS), TREE_BINS, TREE_SCALE
    eta = repr(float(GBT_ETA))
    ctes = _tree_base_ctes(dim, bins)
    # F0 = exact grid mean (HUGEINT sum < 2^53 at these scales, so the
    # double conversion is exact in both engines)
    ctes.append(
        f"f0 AS (SELECT CAST(sum(CAST(ROUND(ly * {scale}) AS BIGINT))"
        f" AS DOUBLE) / count(*) / {scale} AS v FROM base)")
    prev = "g0rows"
    ctes.append(
        f"{prev} AS MATERIALIZED (SELECT base.* EXCLUDE (ly), base.ly - f0.v AS ly, "
        f"CAST(ROUND((base.ly - f0.v) * {scale}) AS BIGINT) AS y, "
        f"f0.v AS p, 0 AS node FROM base CROSS JOIN f0)")
    for r in range(GBT_ROUNDS):
        chain, final_rows, leaves = _tree_chain(
            f"g{r}", prev, GBT_DEPTH, dim, bins - 1, scale,
            ["ly", "p", "k1", "k2"])
        ctes += chain
        nxt = f"g{r + 1}rows"
        keep = ", ".join([f"r.x{i}" for i in range(dim)]
                         + [f"r.b{i}" for i in range(dim)])
        ctes.append(
            f"{nxt} AS MATERIALIZED (SELECT {keep}, r.k1, r.k2, "
            f"r.ly - {eta} * l.v AS ly, "
            f"CAST(ROUND((r.ly - {eta} * l.v) * {scale}) AS BIGINT) AS y, "
            f"r.p + {eta} * l.v AS p, 0 AS node "
            f"FROM {final_rows} r JOIN {leaves} l USING (node))")
        prev = nxt
    final = (f"SELECT k1 AS l_orderkey, k2 AS l_linenumber, "
             + SQL_Q4.format("p") + f" AS pred FROM {prev}")
    return "WITH " + ",\n".join(ctes) + "\n" + final


GBT_SQL = _gbt_sql()


QUERIES = {
    "als": (als, ALS_SQL),
    "decision_tree": (decision_tree, DECISION_TREE_SQL),
    "decision_tree_splits": (decision_tree_splits,
                             DECISION_TREE_SPLITS_SQL),
    "gbt": (gbt, GBT_SQL),
    "decision_tree_cls": (decision_tree_cls, DECISION_TREE_CLS_SQL),
    "random_forest": (random_forest, RANDOM_FOREST_SQL),
    "als_recommend": (als_recommend, ALS_RECOMMEND_SQL),
    "cross_validation": (cross_validation, CROSS_VALIDATION_SQL),
    "dataflow_pipeline": (dataflow_pipeline, DATAFLOW_PIPELINE_SQL),
    "corr_matrix": (corr_matrix, CORR_MATRIX_SQL),
    "logistic_regression": (logistic_regression, LOGISTIC_REGRESSION_SQL),
    "linear_svc": (linear_svc, LINEAR_SVC_SQL),
    "linear_regression": (linear_regression, LINEAR_REGRESSION_SQL),
    "naive_bayes": (naive_bayes, NAIVE_BAYES_SQL),
    "knn": (knn, KNN_SQL),
    "kmeans": (kmeans, KMEANS_SQL),
    "chisq_test": (chisq_test, CHISQ_SQL),
    "anova_test": (anova_test, ANOVA_SQL),
    "fvalue_test": (fvalue_test, FVALUE_SQL),
    "binary_evaluator": (binary_evaluator, BINARY_EVALUATOR_SQL),
    "regression_evaluator": (regression_evaluator, REGRESSION_EVALUATOR_SQL),
    "multiclass_evaluator": (multiclass_evaluator, MULTICLASS_EVALUATOR_SQL),
    "ks_test": (ks_test, KS_TEST_SQL),
    "spearman_corr": (spearman_corr, SPEARMAN_SQL),
    "paired_ttest": (paired_ttest, PAIRED_TTEST_SQL),
    "conformal_interval": (conformal_interval, CONFORMAL_SQL),
    "platt_calibration": (platt_calibration, PLATT_SQL),
    "quantile_regression": (quantile_regression, QUANTILE_REGRESSION_SQL),
    "huber_regression": (huber_regression, HUBER_REGRESSION_SQL),
    "target_encoding": (target_encoding, TARGET_ENCODING_SQL),
    "sliced_auc": (sliced_auc, SLICED_AUC_SQL),
    "swing": (swing, SWING_SQL),
    "minhash_lsh_join": (minhash_lsh_join, _lsh_join_sql()),
    "minhash_lsh_nn": (minhash_lsh_nn, _lsh_nn_sql()),
    "agglomerative": (agglomerative, _agglomerative_sql()),
}
