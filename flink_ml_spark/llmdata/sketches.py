"""Mergeable frequency / cardinality sketches: CountMinSketch and
HyperLogLog with ENGINE-REPLAYABLE register content.

Why these exist next to Spark's built-ins: ``approx_count_distinct``
hides its HLL registers inside the JVM and its estimates are not
reproducible across engines, which makes it unusable wherever the repo
needs a *checkable* sketch — corpus datasheets that another system must
be able to re-derive, incremental profiles merged across daily runs,
drift monitors whose state is persisted and diffed.  These sketches use
the package's deterministic cross-engine hash family
(``dedup.poly_token_hash`` + ``dedup._hash_family`` — the MinHash
discipline), so the ENTIRE sketch state is integer-exact and a DuckDB
oracle replays it cell by cell.

- :class:`CountMinSketch` (Cormode & Muthukrishnan 2005): ``depth``
  independent hash rows × ``width`` counters; point estimate = min over
  rows — never underestimates, overestimates by ≤ εN (ε ≈ e/width)
  with probability 1−δ (δ ≈ e^−depth).  Heavy-hitter / frequency
  queries over streams whose key cardinality is too large to groupBy.
- :class:`HyperLogLogSketch` (Flajolet et al. 2007): 2^p registers of
  max leading-zero ranks; ~1.04/√m relative cardinality error.

Scale design: fit is ONE map-side-combined aggregation whose output is
model-sized (depth×width counters / 2^p registers), never
corpus-sized; both sketches ``merge()`` exactly (CMS: cell-wise sum,
HLL: register-wise max), which is the whole point at 100 TB — shard
the corpus, sketch each shard, merge the sketches.  Estimation plans
stay JVM-side: literal-array lookups (codegen) for default-sized
sketches, a broadcast join against the cell relation past
``_LITERAL_CELL_LIMIT``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..api import Estimator, Model
from ..param import (HasInputCol, HasOutputCol, IntParam,
                     ParamValidators, StringParam)
from .dedup import MINHASH_PRIME, _hash_family, poly_token_hash

# past this many total counters, estimates switch from literal-array
# lookups to a broadcast join against the cell relation.  The literal
# CreateArray is rebuilt PER ROW by codegen (it is not constant-folded):
# measured 21 s for 4x4096 literals over 10k rows vs ~1 s through the
# join — so the literal path is reserved for genuinely small sketches
_LITERAL_CELL_LIMIT = 4096

# FrequentLineFilterModel: past this many verified boilerplate lines the
# literal-array membership scan (O(|set|) per LINE, array rebuilt per
# row) switches to a broadcast set + one Arrow pass (O(1) per line)
_LINE_SET_LITERAL_LIMIT = 256

# --- 31-bit avalanche ------------------------------------------------------
# The poly token hash is LOCALLY SEQUENTIAL ("item-1"/"item-2" differ by
# 1), which is fine for MinHash (order statistics over many independent
# affine rows) but fatal for register sketches, whose rank statistic
# reads the hash's high bits directly.  This xorshift-multiply mix
# (the standard 32-bit avalanche construction, here in 31-bit space)
# decorrelates them; every intermediate stays < 2**58, so both Spark
# longs and DuckDB BIGINTs compute it exactly — no wrap, no HUGEINT.
_M31 = 1 << 31
_MIX_MULT = 0x45d9f3b


def mix31(x):
    """Column-side avalanche of a non-negative < 2**31 long."""
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = (x * _MIX_MULT) % _M31
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = (x * _MIX_MULT) % _M31
    return x.bitwiseXOR(F.shiftright(x, 16))


def mix31_py(x: int) -> int:
    """Driver-side twin of :func:`mix31`."""
    x ^= x >> 16
    x = (x * _MIX_MULT) % _M31
    x ^= x >> 16
    x = (x * _MIX_MULT) % _M31
    return x ^ (x >> 16)


def mix31_sql_steps(h_expr: str) -> list[str]:
    """The mix as stepwise SELECT-alias expressions for a DuckDB oracle
    (DuckDB supports lateral column-alias references): returns the
    5 expressions; alias them x1..x5 in order, x5 is the mixed value."""
    return [
        f"xor({h_expr}, ({h_expr}) >> 16)",
        f"(x1 * CAST({_MIX_MULT} AS BIGINT)) % {_M31}",
        "xor(x2, x2 >> 16)",
        f"(x3 * CAST({_MIX_MULT} AS BIGINT)) % {_M31}",
        "xor(x4, x4 >> 16)",
    ]


def mix31_np(x):
    """Vectorized numpy twin of :func:`mix31` (int64-safe: every
    intermediate < 2**58)."""
    import numpy as np
    x = np.asarray(x, dtype=np.int64)
    x = x ^ (x >> 16)
    x = (x * _MIX_MULT) % _M31
    x = x ^ (x >> 16)
    x = (x * _MIX_MULT) % _M31
    return x ^ (x >> 16)


def hashed_col(col):
    """``mix31(poly_token_hash(col))`` as ONE Arrow-batched pandas UDF
    — identical values to the Catalyst-expression form, ~6-50x faster
    on string-heavy relations.  The expression form's per-char
    ``F.aggregate`` fold is slow to begin with, is re-evaluated per
    reference when fanned out (CollapseProject inlines select stages;
    Generate applies no CSE), and a Generate barrier forces it to
    INTERPRETED evaluation (measured 13 s vs 2 s on 10k long lines) —
    so sketches hash through numpy (`dedup.np_poly_hash`, the same
    vectorized fold the dedup family uses) and keep Catalyst for the
    cheap integer arithmetic on top."""
    from .dedup import np_poly_hash

    @F.pandas_udf("long")
    def _h(sr: pd.Series) -> pd.Series:
        vals = sr.fillna("").astype(str).to_numpy()
        return pd.Series(mix31_np(np_poly_hash(vals)))

    return _h(col)


class CountMinSketch(Estimator, HasInputCol):
    """``fit(df)`` over a string column → :class:`CountMinSketchModel`
    holding the depth×width counter matrix."""

    depth = IntParam("depth", "Independent hash rows d (error prob "
                     "~e^-d).", 4, ParamValidators.in_range(1, 16))
    width = IntParam("width", "Counters per row w (overestimate "
                     "<= e/w * N whp).", 1024, ParamValidators.gt(1))
    seed = IntParam("seed", "Hash-family seed.", 42)

    def fit(self, *inputs: DataFrame) -> "CountMinSketchModel":
        (df,) = inputs
        d, w = int(self.get_("depth")), int(self.get_("width"))
        fam = _hash_family(d, int(self.get_("seed")))
        # ONE map-side pass, ZERO full-cardinality shuffles (r10, guide
        # §2.1): rows hash in place (vectorized Arrow batches — the
        # per-char fold is numpy, not per-row Python), the d family
        # rows fan out through a broadcast join (an evaluation barrier,
        # so the poly hash runs once per row, not once per (row x
        # element) as the original posexplode formulation did), and the
        # ONLY shuffle is the (i, cell) aggregate — bounded at d*w keys
        # with map-side combine, i.e. sketch-sized per task.  The
        # previous shape pre-aggregated counts per DISTINCT key first,
        # which is a full-cardinality groupBy of exactly the long tail
        # the sketch exists to avoid; per-row hashing trades bounded
        # vectorized CPU for that shuffle's network+sort.  The counter
        # matrix is bit-identical either way (integer sums regrouped).
        key = F.col(self.get_("inputCol")).cast("string")
        hashed = (df.filter(key.isNotNull())
                  .select(hashed_col(key).alias("__h__")))
        fam_df = df.sparkSession.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(fam)],
            "i int, a long, b long")
        counted = (hashed.join(F.broadcast(fam_df))
                   .select("i",
                           ((F.col("__h__") * F.col("a") + F.col("b"))
                            % MINHASH_PRIME % w).alias("cell"))
                   .groupBy("i", "cell")
                   .agg(F.count(F.lit(1)).alias("count")))
        mat = [[0] * w for _ in range(d)]
        for r in counted.collect():  # <= d*w rows — model-sized
            mat[int(r["i"])][int(r["cell"])] = int(r["count"])
        model = CountMinSketchModel()
        model.set_(inputCol=self.get_("inputCol"))
        model.set(CountMinSketchModel.depth, d)
        model.set(CountMinSketchModel.width, w)
        model.set(CountMinSketchModel.seed, int(self.get_("seed")))
        model.model_data = {"cells": mat,
                            "n": sum(mat[0]) if mat else 0}
        return model


class CountMinSketchModel(Model, HasInputCol, HasOutputCol):
    """``transform(df)`` adds the point-estimate column for each row's
    key: min over depth rows of the hashed counter."""

    depth = IntParam("depth", "Hash rows.", 4)
    width = IntParam("width", "Counters per row.", 1024)
    seed = IntParam("seed", "Hash-family seed.", 42)

    def _cells_relation(self, spark: SparkSession) -> DataFrame:
        rows = [(i, c, int(v))
                for i, row in enumerate(self.model_data["cells"])
                for c, v in enumerate(row) if v]
        return spark.createDataFrame(rows or [(0, 0, 0)],
                                     "i int, cell int, cnt long")

    def _transform(self, df: DataFrame) -> DataFrame:
        d, w = int(self.get_("depth")), int(self.get_("width"))
        fam = _hash_family(d, int(self.get_("seed")))
        out_col = self.get_("outputCol")
        mat = self.model_data["cells"]
        # hash once per row behind a Generate barrier; the d estimate
        # expressions then reference the COLUMN (free), not d copies of
        # the hash tree
        key = F.col(self.get_("inputCol")).cast("string")
        # null keys keep null estimates (the UDF itself maps null -> "")
        keyed = df.withColumn(
            "__cms_h__", F.when(key.isNotNull(), hashed_col(key)))
        h = F.col("__cms_h__")
        if d * w <= _LITERAL_CELL_LIMIT:
            ests = [F.element_at(
                F.array(*[F.lit(int(v)) for v in mat[i]]),
                ((h * a + b) % MINHASH_PRIME % w).cast("int") + 1)
                for i, (a, b) in enumerate(fam)]
            est = F.least(*ests) if len(ests) > 1 else ests[0]
            # make the null-key contract explicit: Spark 4's ANSI
            # element_at with a COMPUTED null index returns a garbage
            # slot instead of NULL, so the documented "null keys keep
            # null estimates" needs this guard on both plan paths
            est = F.when(h.isNotNull(), est)
            return keyed.withColumn(out_col, est).drop("__cms_h__")
        # wide sketch: d broadcast lookups against the cell relation
        cells = F.array(*[((h * a + b) % MINHASH_PRIME % w)
                          for a, b in fam])
        rel = self._cells_relation(df.sparkSession)
        keyed = keyed.withColumn("__cms_cells__", cells) \
            .drop("__cms_h__")
        for i in range(d):
            side = (rel.filter(F.col("i") == i)
                    .select(F.col("cell").alias(f"__c{i}__"),
                            F.col("cnt").alias(f"__v{i}__")))
            keyed = keyed.join(
                F.broadcast(side),
                F.col("__cms_cells__")[i] == F.col(f"__c{i}__"), "left")
        est = F.least(*[F.coalesce(F.col(f"__v{i}__"), F.lit(0))
                        for i in range(d)]) if d > 1 \
            else F.coalesce(F.col("__v0__"), F.lit(0))
        # null keys keep NULL estimates on this path too (parity with
        # the literal path above — ADVICE r08): a null key hashes to a
        # null cell index, which must not coalesce to estimate 0
        est = F.when(F.col("__cms_cells__")[0].isNotNull(), est)
        drop = ["__cms_cells__"] + [f"__c{i}__" for i in range(d)] \
            + [f"__v{i}__" for i in range(d)]
        return keyed.withColumn(out_col, est).drop(*drop)

    def estimate(self, key: str) -> int:
        """Driver-side point estimate for one key."""
        d, w = int(self.get_("depth")), int(self.get_("width"))
        fam = _hash_family(d, int(self.get_("seed")))
        h = 0
        for ch in key:
            h = (h * 31 + ord(ch)) % MINHASH_PRIME
        h = mix31_py(h)
        return min(self.model_data["cells"][i][(h * a + b)
                                               % MINHASH_PRIME % w]
                   for i, (a, b) in enumerate(fam))

    def merge(self, other: "CountMinSketchModel") -> "CountMinSketchModel":
        """Exact union sketch: cell-wise sum (valid because both sides
        share (depth, width, seed) — enforced)."""
        for p in ("depth", "width", "seed"):
            if int(self.get_(p)) != int(other.get_(p)):
                raise ValueError(f"CountMinSketch.merge: {p} mismatch "
                                 f"({self.get_(p)} != {other.get_(p)})")
        out = CountMinSketchModel()
        out.set_(inputCol=self.get_("inputCol"))
        for p in ("depth", "width", "seed"):
            out.set(getattr(CountMinSketchModel, p), int(self.get_(p)))
        out.model_data = {
            "cells": [[a + b for a, b in zip(ra, rb)]
                      for ra, rb in zip(self.model_data["cells"],
                                        other.model_data["cells"])],
            "n": self.model_data["n"] + other.model_data["n"]}
        return out

    def get_model_data(self, spark: SparkSession) -> list[DataFrame]:
        return [self._cells_relation(spark)]

    def set_model_data(self, *tables: DataFrame) -> "CountMinSketchModel":
        (df,) = tables
        d, w = int(self.get_("depth")), int(self.get_("width"))
        mat = [[0] * w for _ in range(d)]
        n = 0
        for r in df.collect():
            mat[int(r["i"])][int(r["cell"])] = int(r["cnt"])
        self.model_data = {"cells": mat, "n": sum(mat[0]) if mat else 0}
        return self


# bit width of the poly hash (values in [0, MINHASH_PRIME), P < 2^31)
_HASH_BITS = 31


class HyperLogLogSketch(Estimator, HasInputCol):
    """``fit(df)`` over a string column → :class:`HyperLogLogSketchModel`
    with 2^precision integer registers (max leading-zero rank per
    bucket) — the registers themselves are the cross-engine-checkable
    artifact; ``estimate()`` applies the standard bias-corrected
    formula driver-side.

    The bucket is ``h mod 2^p`` and the rank comes from the remaining
    ``31 - p`` bits of the poly hash, which bounds reliable cardinality
    to ~2^31 distinct keys per sketch — plenty for vocabulary-sized
    domains; shard by key range and merge for more."""

    precision = IntParam("precision", "Register-count exponent p "
                         "(2^p registers; rel. error ~1.04/sqrt(2^p)).",
                         9, ParamValidators.in_range(4, 16))

    def fit(self, *inputs: DataFrame) -> "HyperLogLogSketchModel":
        (df,) = inputs
        p = int(self.get_("precision"))
        m = 1 << p
        rest_bits = _HASH_BITS - p
        # duplicates cannot move a max-rank register: distinct-first
        # (map-side combine) so the per-char hash runs once per KEY,
        # not once per occurrence
        keys = (df.filter(F.col(self.get_("inputCol")).isNotNull())
                .select(F.col(self.get_("inputCol")).cast("string")
                        .alias("__k__")).distinct())
        keys = keys.withColumn("__h__", hashed_col(F.col("__k__")))
        h = F.col("__h__")
        bucket = (h % m).cast("int")
        rest = F.shiftright(h.cast("long"), p)  # h div 2^p, h >= 0
        # rank = leading zeros of rest in a rest_bits-wide word, + 1;
        # bit length via length(bin(x)) with the bin(0)='0' special case
        rank = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
            F.lit(rest_bits + 1) - F.length(F.bin(rest)))
        regs = (keys.select(bucket.alias("bucket"), rank.alias("rank"))
                .groupBy("bucket").agg(F.max("rank").alias("r")))
        out = [0] * m
        for r in regs.collect():  # <= 2^p rows — model-sized
            out[int(r["bucket"])] = int(r["r"])
        model = HyperLogLogSketchModel()
        model.set_(inputCol=self.get_("inputCol"))
        model.set(HyperLogLogSketchModel.precision, p)
        model.model_data = {"registers": out}
        return model


def hll_grouped_registers(df: DataFrame, group_col: str,
                          input_col: str, precision: int = 9) -> DataFrame:
    """Per-group HLL register relation ``(group, bucket, r)`` in ONE
    map-side-combined aggregation — the grouped distinct-count for
    datasheets/profilers ("distinct users per source", "vocabulary per
    language") at bounded per-group state.  Each group's rows are a
    valid :class:`HyperLogLogSketchModel` register set: feed them to
    ``set_model_data`` for estimates, or max-merge across runs.
    Integer-exact, so a SQL oracle replays it row-for-row."""
    p = int(precision)
    m = 1 << p
    rest_bits = _HASH_BITS - p
    # distinct-first per (group, key): duplicates cannot move a max
    keys = (df.filter(F.col(input_col).isNotNull()
                      & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("group"),
                    F.col(input_col).cast("string").alias("__k__"))
            .distinct())
    keys = keys.withColumn("__h__", hashed_col(F.col("__k__")))
    h = F.col("__h__")
    rest = F.shiftright(h.cast("long"), p)
    rank = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits + 1) - F.length(F.bin(rest)))
    return (keys.select("group",
                        (h % m).cast("int").alias("bucket"),
                        rank.alias("rank"))
            .groupBy("group", "bucket")
            .agg(F.max("rank").cast("int").alias("r")))


class HyperLogLogSketchModel(Model, HasInputCol):
    precision = IntParam("precision", "Register-count exponent.", 9)

    def registers_df(self, spark: SparkSession) -> DataFrame:
        """Non-zero registers as a relation (bucket, r) — the
        integer-exact, oracle-checkable sketch state."""
        regs = self.model_data["registers"]
        rows = [(b, int(r)) for b, r in enumerate(regs) if r]
        return spark.createDataFrame(rows or [(0, 0)],
                                     "bucket int, r int")

    def estimate(self) -> float:
        """Bias-corrected HLL estimate with small-range linear
        counting (Flajolet et al. 2007 Fig. 3)."""
        regs = self.model_data["registers"]
        m = len(regs)
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
            m, 0.7213 / (1 + 1.079 / m))
        e = alpha * m * m / sum(2.0 ** -r for r in regs)
        if e <= 2.5 * m:
            zeros = regs.count(0)
            if zeros:
                import math
                return m * math.log(m / zeros)
        return e

    def merge(self, other: "HyperLogLogSketchModel") \
            -> "HyperLogLogSketchModel":
        """Exact union sketch: register-wise max."""
        if int(self.get_("precision")) != int(other.get_("precision")):
            raise ValueError("HyperLogLogSketch.merge: precision mismatch")
        out = HyperLogLogSketchModel()
        out.set_(inputCol=self.get_("inputCol"))
        out.set(HyperLogLogSketchModel.precision,
                int(self.get_("precision")))
        out.model_data = {"registers": [
            max(a, b) for a, b in zip(self.model_data["registers"],
                                      other.model_data["registers"])]}
        return out

    def _transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError(
            "HyperLogLogSketchModel is a summary, not a row transform; "
            "use estimate() / registers_df() / merge()")

    def get_model_data(self, spark: SparkSession) -> list[DataFrame]:
        return [self.registers_df(spark)]

    def set_model_data(self, *tables: DataFrame) \
            -> "HyperLogLogSketchModel":
        (df,) = tables
        m = 1 << int(self.get_("precision"))
        regs = [0] * m
        for row in df.collect():
            regs[int(row["bucket"])] = int(row["r"])
        self.model_data = {"registers": regs}
        return self


class FrequentLineFilter(Estimator):
    """Boilerplate-line removal by global line frequency — the C4-style
    "drop lines that appear on many pages" pass (cookie banners, nav
    footers).

    ``fit`` is ONE exact JVM-side pass: ``explode(split(text, "\\n"))``
    → ``groupBy(line).count()`` → ``count >= minCount``, collected under
    the ``maxBoilerplateLines`` cap.  Map-side partial aggregation
    collapses repeated lines before the shuffle, so boilerplate costs
    one row per line per partition; the unique-line long tail is the
    only full-cardinality traffic.  The drop set is exactly the
    line-frequency filter, so a plain exact-count oracle gates it.

    A CountMinSketch gate in front of that pass (fit the sketch, keep
    only lines whose estimate clears ``minCount``, count those exactly)
    was measured and removed.  Its line hashing ran in a Python UDF over
    the corpus twice, and once ``N/minCount`` exceeds a sketch row's
    cells nearly every cell is hot and the gate passes nearly every
    line.  On ``local[4]`` (4-core x86 host) over a 4k-doc / 21k-line
    web corpus, fit took 3.3-3.9 s with the gate and 0.40 s without;
    over 50k docs / 257k lines, 6.4 s and 1.2 s.  A prototype with the
    gate's hashes moved into the JVM still took 0.7 s at 21k lines.

    ``fit(docs)`` → :class:`FrequentLineFilterModel` holding the
    boilerplate line set (guarded driver state); ``transform(docs)``
    drops those lines and reassembles documents in position order.
    """

    idCol = StringParam("idCol", "Document id column.", "id")
    textCol = StringParam("textCol", "Multi-line text column.", "text")
    outputCol = StringParam("outputCol", "Cleaned text column.", "clean")
    minCount = IntParam("minCount", "Drop lines appearing in at least "
                        "this many places.", 50, ParamValidators.gt(1))
    maxBoilerplateLines = IntParam(
        "maxBoilerplateLines", "Fail-fast cap on the verified drop set "
        "held driver-side.", 1_000_000, ParamValidators.gt(0))
    # the removed sketch gate's params, still in older saves
    retired_params = frozenset({"depth", "width", "seed"})

    def fit(self, *inputs: DataFrame) -> "FrequentLineFilterModel":
        (df,) = inputs
        t = int(self.get_("minCount"))
        exact = (df.select(F.explode(F.split(F.col(self.get_("textCol")),
                                             "\n")).alias("ln"))
                 .groupBy("ln").count()
                 .filter(F.col("count") >= t))
        # ONE action for cap guard + collect: limit(cap+1) bounds the
        # driver to cap+1 rows (the fail-fast the cap exists for) and
        # avoids re-running the corpus pass for a separate count()
        cap = int(self.get_("maxBoilerplateLines"))
        rows = exact.limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"FrequentLineFilter: >{cap} verified boilerplate "
                f"lines exceed maxBoilerplateLines={cap}; raise minCount "
                f"or the cap")
        model = FrequentLineFilterModel()
        model.set_(idCol=self.get_("idCol"), textCol=self.get_("textCol"),
                   outputCol=self.get_("outputCol"))
        model.model_data = {
            "boilerplate": sorted(r["ln"] for r in rows),
            "minCount": t}
        return model


class FrequentLineFilterModel(Model):
    idCol = StringParam("idCol", "Document id column.", "id")
    textCol = StringParam("textCol", "Multi-line text column.", "text")
    outputCol = StringParam("outputCol", "Cleaned text column.", "clean")

    def _transform(self, df: DataFrame) -> DataFrame:
        drop = self.model_data["boilerplate"]
        txt = F.col(self.get_("textCol"))
        if len(drop) <= _LINE_SET_LITERAL_LIMIT:
            # small drop sets: pure-codegen literal array scan
            boiler = F.array(*[F.lit(s) for s in drop])
            kept = F.filter(F.split(txt, "\n"),
                            lambda ln: ~F.array_contains(boiler, ln)) \
                if drop else F.split(txt, "\n")
            return df.withColumn(self.get_("outputCol"),
                                 F.array_join(kept, "\n"))
        # large drop sets: the literal array is the measured Catalyst
        # pathology this file already gates in the CMS estimate path
        # (CreateArray rebuilt per row × O(|set|) scan per LINE — see
        # _LITERAL_CELL_LIMIT note; VERDICT/ADVICE r08).  One broadcast
        # of the set + ONE Arrow pass with O(1) hash lookups per line
        # replaces it: same split/filter/join semantics (split("\n")
        # keeps trailing empties in both engines; null text stays
        # null), zero shuffles, set shipped once per executor.
        # one broadcast per (SparkContext, drop set), cached on the
        # instance: a fresh broadcast per _transform call would
        # accumulate until the ContextCleaner notices the UDF refs are
        # gone — nondeterministic on a long-lived driver (ADVICE r09).
        # Keyed on the set too, so replacing model_data (set_model_data,
        # load, direct assignment) never filters with a stale broadcast
        sc = df.sparkSession.sparkContext
        key = tuple(drop)
        cached = getattr(self, "_bset_cache", None)
        if cached is None or cached[0] is not sc or cached[1] != key:
            cached = (sc, key, sc.broadcast(frozenset(key)))
            self._bset_cache = cached
        bset_b = cached[2]

        @F.pandas_udf("string")
        def _clean(texts: pd.Series) -> pd.Series:
            bs = bset_b.value
            return pd.Series(
                [None if t is None else
                 "\n".join(ln for ln in t.split("\n") if ln not in bs)
                 for t in texts], dtype=object)

        return df.withColumn(self.get_("outputCol"), _clean(txt))

    def transform_local(self, pdf):
        boiler = set(self.model_data["boilerplate"])
        out = pdf.copy()
        out[self.get_("outputCol")] = [
            "\n".join(ln for ln in str(t).split("\n") if ln not in boiler)
            for t in pdf[self.get_("textCol")]]
        return out
