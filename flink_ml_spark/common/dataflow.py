"""Dataflow primitives — the reference's "physical operator" layer (SURVEY
§2.8), re-expressed on Spark's public API.

Reference: flink-ml-core/src/main/java/org/apache/flink/ml/common/
datastream/DataStreamUtils.java (mapPartition :120, reduce :155-233,
aggregate :238-295, sample :300-321, allReduceSum :107 +
AllReduceImpl.java:24-40, coGroup :388-412, windowAllAndProcess :333-385,
generateBatchData :718) and broadcast/BroadcastUtils.java:41-110.

Most primitives collapse to one-line Spark built-ins — that is the point:
partial-then-final aggregation, sort-merge co-group, broadcast joins and
managed spill are Catalyst/Tungsten features, not library code.  They are
still exposed here as named functions so every reference utility has a
checkable, tested equivalent, and so algorithm code reads like the
reference design docs.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# rows per range partition of ``ordered_prefix_sums``; module-level so
# tests can shrink it to exercise the multi-partition offsets path
ROWS_PER_PART = 65536


def map_partition(df: DataFrame, func: Callable, schema) -> DataFrame:
    """Buffer a partition, apply ``func(iterator[pandas.DataFrame]) ->
    iterator[pandas.DataFrame]`` (DataStreamUtils.mapPartition:120).
    Arrow-batched; ``func`` sees one partition per task."""
    return df.mapInPandas(func, schema=schema)


def reduce_rows(df: DataFrame, *aggs: Column):
    """Global partial→final reduction (DataStreamUtils.reduce:155-233).
    Spark plans a map-side partial HashAggregate per partition and a final
    merge — the explicit p-parallel → p=1 topology of the reference."""
    return df.agg(*aggs).first()


def aggregate_keyed(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """Keyed ACC-based aggregation (DataStreamUtils.aggregate:238-295)."""
    return df.groupBy(*keys).agg(*aggs)


def sample_n(df: DataFrame, n: int, seed: int = 0) -> list:
    """n rows without replacement (DataStreamUtils.sample:300-321 — the
    2-round distributed reservoir).  Driver receives exactly n rows; the
    oversample fraction bounds the collect size."""
    total = df.count()
    if total <= n:
        return df.collect()
    frac = min(1.0, (n * 4.0) / total + 1e-6)
    got = df.sample(False, frac, seed=seed).limit(n).collect()
    if len(got) < n:  # rare under-sample: fall back to exact
        got = df.limit(n).collect()
    return got


def top_k_per_key(df: DataFrame, part_cols: Sequence[str],
                  order_cols: Sequence[Column], k: int,
                  rank_col: str | None = None) -> DataFrame:
    """Exact top-k per key: one ``row_number()`` window and a ``<= k``
    filter (the reference's per-partition bounded priority queue merged
    after the shuffle, LSHModel.java:171-178, is what Spark plans here).

    When k ≤ ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000), Spark's InferWindowGroupLimit rule puts a *partial*
    WindowGroupLimit before the exchange, so each map partition ships at
    most k rows per key and a hot key never funnels its full row count
    through one task (with no ``part_cols``, a TakeOrderedAndProject).
    Above the threshold the plan is a plain window: each key's rows are
    sorted in one task, with spill.  ``order_cols`` must be a TOTAL order
    (include a tiebreaker) so the result is engine-exact.  ``rank_col``
    keeps the 1-based rank.
    """
    from pyspark.sql import Window
    rn = rank_col or "__rn__"
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    out = df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)
    return out if rank_col else out.drop(rn)


def all_reduce_sum(df: DataFrame, vec_col: str) -> np.ndarray:
    """Sum one vector per row across the cluster and return it to the
    driver (DataStreamUtils.allReduceSum:107, AllReduceImpl.java:24-40).
    The reference's 3-stage chunked all-reduce becomes a partial/final
    aggregate: only one vector per partition crosses the shuffle, and the
    driver re-broadcasts the result — same communication volume, no custom
    protocol."""
    dim = len(df.select(vec_col).first()[0])
    row = df.agg(*[F.sum(F.col(vec_col)[i]).alias(f"s{i}")
                   for i in range(dim)]).first()
    return np.array([row[f"s{i}"] or 0.0 for i in range(dim)])


def co_group(left: DataFrame, right: DataFrame, left_key: str, right_key: str,
             func: Callable, schema) -> DataFrame:
    """Keyed two-input co-group (DataStreamUtils.coGroup:388-412, sort
    machinery datastream/sort/*).  Spark's cogroup + applyInPandas handles
    the sort/spill natively."""
    return (left.groupBy(left_key).cogroup(right.groupBy(right_key))
            .applyInPandas(func, schema=schema))


def window_all_and_process(df: DataFrame, windows, time_col: str | None,
                           *aggs: Column, clock: Column | None = None
                           ) -> DataFrame:
    """Apply a Windows strategy to the whole table
    (DataStreamUtils.windowAllAndProcess:333-385).  GlobalWindows → plain
    agg; tumbling event-time windows → F.window groups; count windows →
    monotonic-id bucketing (batch analogue of countWindowAll);
    processing-time windows → arrival stamp (``clock`` overrides the wall
    clock for deterministic tests) through the event-time machinery."""
    from ..streaming.windows import Windows, attach_processing_time
    w: Windows = windows
    if w.kind == "global":
        return df.agg(*aggs)
    if w.is_processing_time:
        df = attach_processing_time(df, "__proc_t__", clock)
        inner = Windows("event_time" if w.kind == "proc_time" else "session",
                        w.size)
        return window_all_and_process(df, inner, "__proc_t__", *aggs)
    if w.kind == "event_time":
        win = F.window(F.col(time_col), f"{w.size} milliseconds")
        return (df.groupBy(win.alias("w")).agg(*aggs)
                .withColumn("window_start", F.col("w")["start"]).drop("w"))
    if w.kind == "sliding":
        win = F.window(F.col(time_col), f"{w.size} milliseconds",
                       f"{w.slide} milliseconds")
        return (df.groupBy(win.alias("w")).agg(*aggs)
                .withColumn("window_start", F.col("w")["start"]).drop("w"))
    if w.kind == "session":
        win = F.session_window(F.col(time_col), f"{w.size} milliseconds")
        return (df.groupBy(win.alias("w")).agg(*aggs)
                .withColumn("window_start", F.col("w")["start"]).drop("w"))
    if w.kind == "count":
        # count windows impose a global sequence (countWindowAll) — built
        # two-phase (per-partition counts → broadcast offsets), never a
        # global single-task sort
        return (with_contiguous_id(df, "__seq__")
                .groupBy(F.floor((F.col("__seq__") - 1) / w.size)
                         .alias("window_id")).agg(*aggs))
    raise ValueError(f"unsupported window kind {w.kind}")


def with_contiguous_id(df: DataFrame, out_col: str = "__seq__") -> DataFrame:
    """Append a 1-based gap-free global row id
    (monotonically_increasing_id is partition-sparse).

    Two-phase: one tiny job counts rows per partition, the offsets come
    back as a broadcast join, and the rank itself is per-partition — the
    same geometry as the evaluator's range-partitioned cumsum; no
    unpartitioned Window puts all rows through one task.  Requires a
    deterministic source (both jobs must see identical partitioning —
    true for (cached) file scans)."""
    from pyspark.sql import Window
    d = df.withColumn("__pid__", F.spark_partition_id())
    cnts = sorted(d.groupBy("__pid__").count().collect(),
                  key=lambda r: r["__pid__"])
    offs, acc = [], 0
    for r in cnts:
        offs.append((int(r["__pid__"]), acc))
        acc += int(r["count"])
    spark = df.sparkSession
    odf = spark.createDataFrame(offs or [(0, 0)], "__pid__ int, __off__ long")
    w = Window.partitionBy("__pid__").orderBy(F.monotonically_increasing_id())
    return (d.join(F.broadcast(odf), "__pid__")
            .withColumn(out_col, F.row_number().over(w) + F.col("__off__"))
            .drop("__pid__", "__off__"))


def _running_sums(batches: Iterator[pd.DataFrame], by: Sequence[str],
                  sums: Sequence[str], outs: Sequence[str]):
    """Inclusive running sums of ``sums`` over one partition's rows, which
    arrive sorted by ``(*by, *order)``: the sums restart wherever the
    ``by`` key changes (null-safe) and carry across Arrow batches.  Each
    run is a plain ``Series.cumsum`` plus the carried total, so with
    ``by=()`` a batch's values are bit-identical to ``cumsum() + carry``.
    """
    key: list = [None] * len(by)
    carry = {c: 0 for c in sums}
    for pdf in batches:
        if not len(pdf):
            continue
        # same[i]: row i continues the run of the row before it (row 0:
        # of the previous batch's last row)
        same = np.ones(len(pdf), dtype=bool)
        for j, c in enumerate(by):
            x = pdf[c].to_numpy(dtype=object)
            prev = np.empty(len(x), dtype=object)
            prev[0], prev[1:] = key[j], x[:-1]
            same &= (x == prev) | (pd.isna(x) & pd.isna(prev))
        cuts = [0, *np.flatnonzero(~same[1:]) + 1, len(pdf)]
        for c, o in zip(sums, outs):
            runs = [pdf[c].iloc[a:b].cumsum() for a, b in zip(cuts, cuts[1:])]
            if same[0]:
                runs[0] = runs[0] + carry[c]
            pdf[o] = pd.concat(runs)
            carry[c] = pdf[o].iloc[-1]
        key = [pdf[c].iloc[-1] for c in by]
        yield pdf


@contextmanager
def ordered_prefix_sums(df: DataFrame, order: Sequence[Column],
                        sums: Sequence[str], n_rows: int,
                        by: Sequence[str] = ()) -> Iterator[DataFrame]:
    """Exact running totals over a global order, with no single-task sort.

    Yields ``df`` plus one ``cum_<c>`` column per name in ``sums``: the
    inclusive sum of ``c`` over every row at or before this one in the
    order ``order`` within the same ``by`` group (null-safe; ``by=()``
    is one global group).  This is the reference's exact-ranking
    geometry (BinaryClassificationEvaluator.java:376-450): range-
    partition on ``(*by, *order)`` into ``n_rows // ROWS_PER_PART + 1``
    partitions (at most ``spark.sql.shuffle.partitions``), sort each,
    run an Arrow cumsum per partition, then add per-``(partition,
    *by)`` prefix offsets — the partial-summary merge: the per-
    ``(partition, group)`` totals (at most groups + partitions − 1 rows,
    since ranges are contiguous) come to the driver, and the at most
    ``partitions − 1`` nonzero offsets return as a broadcast join.
    With one partition there are no offsets and no extra job.

    ``n_rows`` is the row count of ``df``, from a count the caller
    already runs.  The range-partitioned relation is persisted so the
    partition ids agree between the offsets and the cumsum passes; the
    context unpersists it on exit, so callers finish every action on
    the yielded frame inside the block (``localCheckpoint`` a lazy
    result).
    """
    spark = df.sparkSession
    npart = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions",
                                          "32")),
                       n_rows // ROWS_PER_PART + 1))
    keys = [F.col(c).asc() for c in by] + list(order)
    part = (df.repartitionByRange(npart, *keys).sortWithinPartitions(*keys)
            .withColumn("__pid__", F.spark_partition_id()).persist())
    try:
        outs = [f"cum_{c}" for c in sums]
        schema = T.StructType(part.schema.fields + [
            T.StructField(o, part.schema[c].dataType)
            for c, o in zip(sums, outs)])
        local = part.mapInPandas(
            lambda it: _running_sums(it, by, sums, outs), schema)
        if npart > 1:
            # ranges are contiguous, so a group continues from an earlier
            # partition only as that partition's first group: its offset
            # is the group's total over the earlier partitions
            tots = part.groupBy("__pid__", *by).agg(
                *[F.sum(c).alias(c) for c in sums])
            acc, offs, nan = {}, [], object()
            for r in sorted(tots.collect(), key=lambda r: r["__pid__"]):
                # NaN is one group in Spark but never equal in Python
                key = tuple(nan if v != v else v for v in r[1:1 + len(by)])
                if key in acc:
                    offs.append((*r[:1 + len(by)], *acc[key]))
                acc[key] = [a + r[c] for a, c in
                            zip(acc.get(key, [0] * len(sums)), sums)]
            odf = spark.createDataFrame(offs, tots.schema).toDF(
                *[f"__o{c}" for c in tots.columns])
            on = reduce(lambda x, y: x & y,
                        [F.col(c).eqNullSafe(F.col(f"__o{c}")) for c in by],
                        F.col("__pid__") == F.col("__o__pid__"))
            local = (local.join(F.broadcast(odf), on, "left")
                     .withColumns({o: F.col(o) + F.coalesce(
                         F.col(f"__o{c}"), F.lit(0))
                         for c, o in zip(sums, outs)})
                     .drop(*odf.columns))
        yield local.drop("__pid__")
    finally:
        part.unpersist()


def generate_batch_data(df: DataFrame, batch_size: int) -> Iterable[DataFrame]:
    """Re-chunk a bounded table into global batches of ``batch_size``
    (DataStreamUtils.generateBatchData:718) — batch analogue used by the
    online estimators' tests; streaming uses real micro-batches."""
    n = df.count()
    num = max(1, -(-n // batch_size))
    tagged = with_contiguous_id(df, "__seq__") \
        .withColumn("__batch__", F.floor((F.col("__seq__") - 1) / batch_size)) \
        .drop("__seq__")
    for b in range(num):
        yield tagged.filter(F.col("__batch__") == b).drop("__batch__")


def with_broadcast(df: DataFrame, small: DataFrame, on, how: str = "inner") -> DataFrame:
    """Broadcast-join a small table into every task
    (BroadcastUtils.withBroadcastStream:41-110).  No deadlock machinery
    needed: fit already materialized the broadcast side."""
    return df.join(F.broadcast(small), on=on, how=how)


def numpy_block_rdd(df: DataFrame, col: str, parallelism: int | None = None):
    """Cache-ready RDD of one (rows × dim) float64 matrix per partition,
    built Arrow-vectorized (mapInArrow reshapes the list-array value
    buffer; one pickled blob per partition crosses the DF→RDD boundary —
    never a per-row Python object).  This is Spark MLlib's block-cache
    architecture for iterative learners: per-round work becomes
    mapPartitions(numpy) + treeReduce, with no query planning, columnar
    cache decode, or Arrow conversion inside the loop."""
    import pickle

    import pyarrow as pa

    data = df.select(F.col(col).cast("array<double>").alias("__v__"))
    if parallelism:
        parts = data.rdd.getNumPartitions()
        if parts < parallelism:
            data = data.repartition(parallelism)

    def conv(batches):
        mats = []
        for b in batches:
            arr = b.column(0)
            n = len(arr)
            if n == 0:
                continue
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            mats.append(flat.reshape(n, len(flat) // n))
        if mats:
            X = np.vstack(mats)
            yield pa.RecordBatch.from_arrays(
                [pa.array([pickle.dumps(X)])], ["blob"])

    return (data.mapInArrow(conv, "blob binary")
            .rdd.map(lambda r: pickle.loads(bytes(r[0]))))
