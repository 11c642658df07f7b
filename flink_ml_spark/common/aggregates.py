"""Distributed per-dimension and per-column statistics, one pass each.

Replaces the reference's hand-rolled partial-then-final aggregations
(DataStreamUtils.reduce/aggregate, flink-ml-core/.../datastream/
DataStreamUtils.java:155-295; StandardScaler partials at
StandardScaler.java:75-101).  Spark-first plan: ``posexplode`` the vector
then ``groupBy(pos)`` — Catalyst's HashAggregate does map-side partial
aggregation, so only ``dim`` rows per partition hit the shuffle regardless
of row count; the ``dim``-row result is collected and sorted on the driver
(an ``orderBy`` would add a sampling job and a shuffle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def summarize_vector_col(df: DataFrame, col: str, metrics=("count", "mean", "std", "min", "max")) -> dict[str, np.ndarray]:
    """Compute per-dimension stats of an array<double> column.

    Returns dict of metric -> np.ndarray(dim) for the requested metrics
    and count: count, mean, std (unbiased, stddev_samp), var, min, max,
    max_abs, l1, l2sq, sum.  (An ungrouped ``agg`` over ``x[i]`` would
    plan dim × metrics expressions: too many for a 2^18-dim hashed input.)
    """
    from . import vector as V
    exploded = df.select(F.posexplode(V.dense_input(df, col)).alias("pos", "x"))
    x = F.col("x")
    aggs = {
        "count": F.count(x), "sum": F.sum(x), "mean": F.avg(x),
        "std": F.stddev_samp(x), "var": F.var_samp(x),
        "min": F.min(x), "max": F.max(x), "max_abs": F.max(F.abs(x)),
        "l1": F.sum(F.abs(x)), "l2sq": F.sum(x * x),
    }
    wanted = sorted(set(metrics) | {"count"})
    rows = sorted(exploded.groupBy("pos").agg(*[aggs[m].alias(m) for m in wanted])
                  .collect(), key=lambda r: r["pos"])
    out: dict[str, np.ndarray] = {
        m: np.array([float(r[m]) if r[m] is not None else 0.0 for r in rows])
        for m in wanted}
    out["dim"] = len(rows)  # type: ignore[assignment]
    return out


def value_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Non-null value counts of all ``cols`` in one ``groupBy``: rows
    ``(c, v, count)``, ``c`` the column's position in ``cols`` and ``v`` its
    value as a string (StringIndexer.java:74 counts its columns at once)."""
    pairs = [F.struct(F.lit(i).alias("c"), F.col(c).cast("string").alias("v"))
             for i, c in enumerate(cols)]
    return (df.select(F.inline(F.array(*pairs)))
            .where(F.col("v").isNotNull())
            .groupBy("c", "v").count())


def quantiles_vector_col(df: DataFrame, col: str, probs: list[float],
                         relative_error: float = 0.001) -> np.ndarray:
    """Per-dimension approximate quantiles of an array<double> column.

    Greenwald-Khanna equivalent (reference QuantileSummary.java:42) via
    Spark's built-in mergeable percentile_approx sketch.  With
    ``relative_error == 0`` uses the exact interpolating ``F.percentile``
    (matches SQL percentile_cont/quantile_cont — used by oracle-checked
    paths; the sketch remains the 100 TB path).
    Returns array of shape (dim, len(probs)).
    """
    from . import vector as V
    exploded = df.select(F.posexplode(V.dense_input(df, col)).alias("pos", "x"))
    if relative_error == 0:
        return _exact_quantiles(exploded, probs)
    parr = F.array(*[F.lit(p) for p in probs])
    accuracy = max(1, int(1.0 / relative_error))
    agg = F.percentile_approx("x", parr, F.lit(accuracy)).alias("q")
    rows = sorted(exploded.groupBy("pos").agg(agg).collect(), key=lambda r: r["pos"])
    return np.array([list(r["q"]) for r in rows], dtype=float)


def _exact_quantiles(exploded: DataFrame, probs: list[float]) -> np.ndarray:
    """Exact interpolating quantiles (percentile_cont semantics) via order
    statistics: groupBy (pos, value) counts — a PARALLEL hash shuffle with
    map-side combine — then a per-dim cumulative-count window over the
    distinct values and a filter down to only the rows holding a target
    rank.  Avoids ``F.percentile``'s merge of per-partition value→count
    maps at one reducer, which is quadratic-ish pain on high-cardinality
    doubles (measured 1 s for one 600 k-distinct dim; this path is ~0.2 s
    and scales out)."""
    from pyspark.sql import Window

    counts = (exploded.where(F.col("x").isNotNull())
              .groupBy("pos", "x").agg(F.count("*").alias("c")))
    counts = counts.persist()
    w = (Window.partitionBy("pos").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = counts.withColumn("cum", F.sum("c").over(w))
    # per-dim row counts come from the (much smaller) cached counts
    # relation — one scan of the base data total
    ns = {r["pos"]: r["n"] for r in
          counts.groupBy("pos").agg(F.sum("c").alias("n")).collect()}
    # target order-statistic indices per dim: h = (n-1)p → floor/ceil
    targets: dict[int, set[int]] = {}
    for pos, n in ns.items():
        t = set()
        for p in probs:
            h = (n - 1) * p
            t.add(int(np.floor(h)))
            t.add(int(np.ceil(h)))
        targets[pos] = t
    cond = None
    for pos, idxs in targets.items():
        hit = None
        for i in sorted(idxs):
            c = (F.col("cum") - F.col("c") <= i) & (F.lit(i) < F.col("cum"))
            hit = c if hit is None else (hit | c)
        branch = (F.col("pos") == pos) & hit
        cond = branch if cond is None else (cond | branch)
    rows = cum.where(cond).select("pos", "x", "c", "cum").collect()
    counts.unpersist()
    # value at integer rank i (0-based over the sorted multiset)
    val_at: dict[int, dict[int, float]] = {}
    for r in rows:
        lo, hi = r["cum"] - r["c"], r["cum"]
        for i in targets[r["pos"]]:
            if lo <= i < hi:
                val_at.setdefault(r["pos"], {})[i] = float(r["x"])
    out = []
    for pos in sorted(ns):
        n = ns[pos]
        qs = []
        for p in probs:
            h = (n - 1) * p
            lo, hi = int(np.floor(h)), int(np.ceil(h))
            vlo, vhi = val_at[pos][lo], val_at[pos][hi]
            qs.append(vlo + (h - lo) * (vhi - vlo))
        out.append(qs)
    return np.array(out, dtype=float)

