"""Data-quality profiling and constraint gating for corpus ingest.

A 100 TB training-data pipeline needs a profiling/validation layer in
front of every expensive stage (dedup, tokenization, training): a cheap
single-pass column profile to SEE the data, and declarative constraints
that gate a batch before it poisons downstream state (the published
pattern: AWS Deequ, Schelter et al., VLDB 2018 — "Automating Large-Scale
Data Quality Verification"; re-expressed here on native Spark
aggregates, no library code).

Scale design (the whole point):

- ``DataProfiler`` compiles the ENTIRE profile — every requested column's
  null/distinct/moment/extrema/length stats — into ONE ``df.agg(...)``
  so the corpus is scanned exactly once with map-side partial
  aggregation; the single result row (a few doubles per column) is
  pivoted to per-column rows driver-side.  Distinct counts default to
  HyperLogLog (``approx_count_distinct``), which keeps the pass narrow;
  ``exactDistinct=True`` is available for gates that need exactness and
  is documented as paying Spark's multi-count-distinct Expand (input ×
  (distinct-aggs + 1) rows into the shuffle) — correct, but the opt-in
  slow path.
- ``ConstraintGate`` compiles ALL constraints into the same one-pass
  aggregation shape and emits one verdict row per constraint.  The only
  constraints that cost more than the scan are ``unique`` ones (exact
  count-distinct by necessity — a uniqueness gate cannot be
  approximate).

Both operators return cluster-computed scalars only: rows leaving the
cluster = number of columns (or constraints), regardless of corpus size.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..api import AlgoOperator, Transformer
from ..common import dataflow
from ..param import (BoolParam, HasInputCol, IntParam, Param,
                     ParamValidators, StringArrayParam, StringParam)

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")

_PROFILE_SCHEMA = T.StructType([
    T.StructField("group", T.StringType()),
    T.StructField("column", T.StringType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_null", T.LongType()),
    T.StructField("n_distinct", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("stddev", T.DoubleType()),
    T.StructField("min_num", T.DoubleType()),
    T.StructField("max_num", T.DoubleType()),
    T.StructField("min_len", T.LongType()),
    T.StructField("max_len", T.LongType()),
    T.StructField("n_empty", T.LongType()),
    T.StructField("quantiles", T.ArrayType(T.DoubleType())),
])


def _numeric_view(col: str, dtype: str) -> Column | None:
    """A double-valued rendering of any orderable scalar type, so the
    moment/extrema stats share one code path: numerics cast, booleans
    as 0/1, timestamps as epoch millis (naive-as-UTC, matching DuckDB's
    ``epoch_ms``).  Strings/arrays/binaries have no numeric view."""
    if dtype in _NUMERIC:
        return F.col(col).cast("double")
    if dtype == "boolean":
        return F.col(col).cast("int").cast("double")
    if dtype.startswith("timestamp"):
        return F.unix_millis(F.col(col).cast("timestamp")).cast("double")
    if dtype == "date":
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    return None


class DataProfiler(AlgoOperator):
    """Single-pass per-column corpus profile.

    ``transform(df)`` → one DataFrame with a row per profiled column:
    ``(column, dtype, n_rows, n_null, n_distinct, mean, stddev, min_num,
    max_num, min_len, max_len, n_empty)``.  Numeric/boolean/temporal
    columns fill the moment/extrema block (temporals as epoch millis);
    string columns fill the length block; every orderable column gets
    null + distinct counts.  ``stddev`` is the sample standard deviation
    (``stddev_samp``, matching DuckDB/ANSI ``STDDEV``).

    Plan: ONE aggregation job over one corpus scan — all statistics for
    all columns are expressions in a single ``df.agg``; partial
    aggregation combines map-side, a single reduce task assembles the
    one result row, and the per-column pivot is driver-side arithmetic
    on that row.  With the default HLL distinct counts the pass is
    Expand-free; ``exactDistinct=True`` switches to exact
    ``count(DISTINCT)`` and pays the documented Expand multiplication.
    """

    columns = StringArrayParam(
        "columns", "Columns to profile (None = every top-level column of "
        "a profilable type: numeric, string, boolean, timestamp, date).",
        None)
    exactDistinct = BoolParam(
        "exactDistinct", "Exact count(DISTINCT) per column instead of "
        "HyperLogLog — needed when the profile feeds an exactness gate "
        "or a cross-engine comparison; costs Spark's multi-distinct "
        "Expand (input rows × (distinct aggs + 1) into the shuffle).",
        False)
    relativeSD = Param(
        "relativeSD", "HyperLogLog relative standard deviation for the "
        "approximate distinct counts.", 0.02,
        ParamValidators.in_range(0.000017, 0.4, lower_inclusive=False))
    quantiles = Param(
        "quantiles", "Quantile probabilities to profile per numeric "
        "column (None = none); linear-interpolated (ANSI "
        "PERCENTILE_CONT semantics).", None,
        lambda v: v is None or all(0.0 <= q <= 1.0 for q in v))
    exactQuantiles = BoolParam(
        "exactQuantiles", "Exact sort-based percentiles instead of the "
        "mergeable KLL-style approx_percentile sketch — exact buffers "
        "the column per group and is the small-data / oracle path; the "
        "default sketch is the 100 TB path.", False)
    quantileAccuracy = Param(
        "quantileAccuracy", "approx_percentile accuracy (1/eps).", 10000,
        ParamValidators.gt(0))
    groupByCol = Param(
        "groupByCol", "Segment the profile by this column (None = whole "
        "table): same single pass, one stat row per (group, column).  "
        "Driver state is groups × columns rows — meant for model-sized "
        "group cardinalities (sources, languages, shards), not "
        "per-user grouping.", None)

    def _agg_frame(self, df: DataFrame) -> tuple[list[str], dict, DataFrame]:
        """The one-pass aggregation (exposed so tests can assert the
        plan shape: approx mode must plan Expand-free)."""
        dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        cols = self.get_("columns")
        if cols is None:
            cols = [c for c, t in dtypes.items()
                    if t in _NUMERIC or t == "string" or t == "boolean"
                    or t.startswith("timestamp") or t == "date"]
        exact = self.get_("exactDistinct")
        rsd = float(self.get_("relativeSD"))

        aggs: list[Column] = [F.count(F.lit(1)).alias("__n__")]
        for c in cols:
            t = dtypes[c]
            col = F.col(c)
            aggs.append(F.count(col).alias(f"{c}__nn"))
            # distinct over the string rendering so float NaN/-0.0 and
            # timestamp precision quirks canonicalize identically in any
            # engine consuming the same parquet
            dcol = col.cast("string")
            aggs.append((F.count_distinct(dcol) if exact
                         else F.approx_count_distinct(dcol, rsd))
                        .alias(f"{c}__nd"))
            num = _numeric_view(c, t)
            if num is not None:
                aggs += [F.avg(num).alias(f"{c}__avg"),
                         F.stddev_samp(num).alias(f"{c}__std"),
                         F.min(num).alias(f"{c}__min"),
                         F.max(num).alias(f"{c}__max")]
                qs = self.get_("quantiles")
                if qs:
                    probe = F.lit([float(q) for q in qs])
                    aggs.append(
                        (F.percentile(num, probe)
                         if self.get_("exactQuantiles")
                         else F.percentile_approx(
                             num, probe,
                             F.lit(int(self.get_("quantileAccuracy")))))
                        .alias(f"{c}__q"))
            if t == "string":
                ln = F.length(col)
                aggs += [F.min(ln).alias(f"{c}__minl"),
                         F.max(ln).alias(f"{c}__maxl"),
                         F.count(F.when(col == "", 1)).alias(f"{c}__emp")]
        gcol = self.get_("groupByCol")
        if gcol is not None:
            agg = (df.groupBy(F.col(gcol).cast("string").alias("__g__"))
                   .agg(*aggs))
        else:
            agg = df.agg(*aggs)
        return cols, dtypes, agg

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        cols, dtypes, agg = self._agg_frame(df)
        grouped = self.get_("groupByCol") is not None
        rows = agg.collect() if grouped else [agg.first()]

        def _l(v):  # noqa: E306 - tiny pivots
            return None if v is None else int(v)

        def _d(v):
            return None if v is None else float(v)

        out_rows = []
        for r in rows:
            row = r.asDict()
            for c in cols:
                out_rows.append((
                    row.get("__g__") if grouped else None,
                    c, dtypes[c], int(row["__n__"]),
                    int(row["__n__"]) - int(row[f"{c}__nn"]),
                    _l(row.get(f"{c}__nd")),
                    _d(row.get(f"{c}__avg")), _d(row.get(f"{c}__std")),
                    _d(row.get(f"{c}__min")), _d(row.get(f"{c}__max")),
                    _l(row.get(f"{c}__minl")), _l(row.get(f"{c}__maxl")),
                    _l(row.get(f"{c}__emp")),
                    ([None if q is None else float(q)
                      for q in row[f"{c}__q"]]
                     if row.get(f"{c}__q") is not None else None),
                ))
        spark = df.sparkSession
        return [spark.createDataFrame(out_rows, _PROFILE_SCHEMA)]


_GATE_SCHEMA = T.StructType([
    T.StructField("constraint", T.StringType()),
    T.StructField("column", T.StringType()),
    T.StructField("observed", T.DoubleType()),
    T.StructField("threshold", T.DoubleType()),
    T.StructField("passed", T.BooleanType()),
])


def _c_get(c: dict, key: str) -> Any:
    if key not in c:
        raise ValueError(f"constraint {c.get('type')!r} requires {key!r}")
    return c[key]


class ConstraintGate(AlgoOperator):
    """Declarative data-quality gate: verdicts for a constraint suite in
    one aggregation pass (Deequ's check model, Schelter et al. 2018).

    ``constraints`` is a list of dicts:

    - ``{"type": "min_rows", "value": n}`` — at least n rows.
    - ``{"type": "not_null", "col": c}`` — no nulls in c.
    - ``{"type": "max_null_frac", "col": c, "frac": f}`` — null
      fraction ≤ f.
    - ``{"type": "unique", "col": c}`` — c has no duplicate non-null
      values (exact by necessity).
    - ``{"type": "in_range", "col": c, "min": lo, "max": hi}`` — every
      non-null value in [lo, hi] (observed = fraction in range).
    - ``{"type": "in_set", "col": c, "allowed": [...]}`` — every
      non-null value (as string) in the allowed set.
    - ``{"type": "matches_regex", "col": c, "pattern": p,
      "min_frac": f}`` — at least fraction f of non-null values match.
    - ``{"type": "min_distinct", "col": c, "value": k}`` — at least k
      distinct non-null values (exact).

    ``transform(df)`` → [report] where report has one row per
    constraint: ``(constraint, column, observed, threshold, passed)``;
    ``observed``/``threshold`` are the rule's native scalars (fractions,
    counts) so the report is actionable, not just boolean.  ``check``
    is the gating convenience: run, and either return (all_passed,
    report_rows) or raise on failure.

    Plan: every constraint lowers to aggregate expressions in ONE
    ``df.agg`` — a corpus-sized input produces a single combined scan
    with map-side partials; only ``unique``/``min_distinct`` add exact
    count-distincts (the Expand cost is the price of an exact
    uniqueness gate — an approximate uniqueness verdict is worthless).
    The report is built driver-side from the one result row.
    """

    constraints = Param(
        "constraints", "Constraint suite: list of dicts (see class doc).",
        None, ParamValidators.non_empty_array())
    failOnViolation = BoolParam(
        "failOnViolation", "check() raises ValueError when any "
        "constraint fails (batch gating); False = report only.", True)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        suite: list[dict] = list(self.get_("constraints"))
        aggs: list[Column] = [F.count(F.lit(1)).alias("__n__")]
        for i, c in enumerate(suite):
            t = c.get("type")
            if t == "min_rows":
                continue  # served by __n__
            col = F.col(_c_get(c, "col"))
            if t in ("not_null", "max_null_frac"):
                aggs.append(F.count(col).alias(f"c{i}"))
            elif t == "unique":
                aggs += [F.count(col).alias(f"c{i}_n"),
                         F.count_distinct(col).alias(f"c{i}_d")]
            elif t == "min_distinct":
                aggs.append(F.count_distinct(col).alias(f"c{i}"))
            elif t == "in_range":
                lo, hi = _c_get(c, "min"), _c_get(c, "max")
                ok = F.when(col.cast("double").between(
                    float(lo), float(hi)), 1)
                aggs += [F.count(ok).alias(f"c{i}_ok"),
                         F.count(col).alias(f"c{i}_n")]
            elif t == "in_set":
                allowed = [str(v) for v in _c_get(c, "allowed")]
                ok = F.when(col.cast("string").isin(allowed), 1)
                aggs += [F.count(ok).alias(f"c{i}_ok"),
                         F.count(col).alias(f"c{i}_n")]
            elif t == "matches_regex":
                ok = F.when(col.cast("string")
                            .rlike(_c_get(c, "pattern")), 1)
                aggs += [F.count(ok).alias(f"c{i}_ok"),
                         F.count(col).alias(f"c{i}_n")]
            else:
                raise ValueError(f"unknown constraint type {t!r}")
        row = df.agg(*aggs).first().asDict()

        n = int(row["__n__"])
        out = []
        for i, c in enumerate(suite):
            t, cc = c["type"], c.get("col")
            if t == "min_rows":
                thr = float(_c_get(c, "value"))
                out.append((t, None, float(n), thr, n >= thr))
            elif t == "not_null":
                nulls = n - int(row[f"c{i}"])
                out.append((t, cc, float(nulls), 0.0, nulls == 0))
            elif t == "max_null_frac":
                frac = (n - int(row[f"c{i}"])) / n if n else 0.0
                thr = float(_c_get(c, "frac"))
                out.append((t, cc, frac, thr, frac <= thr))
            elif t == "unique":
                dupes = int(row[f"c{i}_n"]) - int(row[f"c{i}_d"])
                out.append((t, cc, float(dupes), 0.0, dupes == 0))
            elif t == "min_distinct":
                d = int(row[f"c{i}"])
                thr = float(_c_get(c, "value"))
                out.append((t, cc, float(d), thr, d >= thr))
            else:  # fraction rules: in_range / in_set / matches_regex
                nn = int(row[f"c{i}_n"])
                frac = int(row[f"c{i}_ok"]) / nn if nn else 1.0
                thr = (float(c.get("min_frac", 1.0))
                       if t == "matches_regex" else 1.0)
                out.append((t, cc, frac, thr, frac >= thr))
        spark = df.sparkSession
        return [spark.createDataFrame(out, _GATE_SCHEMA)]

    def check(self, df: DataFrame) -> tuple[bool, list]:
        """Gate a batch: returns (all_passed, report rows); raises
        ValueError listing the violated constraints when
        ``failOnViolation`` and any rule failed."""
        rows = self.transform(df)[0].collect()
        failed = [r for r in rows if not r["passed"]]
        if failed and self.get_("failOnViolation"):
            detail = ", ".join(
                f"{r['constraint']}({r['column']}): observed "
                f"{r['observed']:g} vs {r['threshold']:g}" for r in failed)
            raise ValueError(f"constraint violations: {detail}")
        return (not failed, rows)


def suggest_constraints(profile_rows, slack: float = 0.1,
                        max_set_size: int = 32) -> list[dict]:
    """Deequ-style constraint suggestion: turn a ``DataProfiler`` run
    into a ``ConstraintGate`` suite that codifies what the profiled
    batch already satisfies — the standard bootstrap for gating a feed
    whose invariants nobody wrote down (Schelter et al. 2018 §3.4).

    Rules derived per column (ungrouped profiles only):
    - ``n_null == 0``            → ``not_null``
    - else                        → ``max_null_frac`` at observed + slack
    - ``n_distinct == n_rows``    → ``unique`` (id-shaped column)
    - numeric with min/max        → ``in_range`` widened by ``slack`` ×
      the observed span (an exact-bounds gate would reject the first
      legitimately new value)
    - plus a corpus-level ``min_rows`` at (1 − slack) × observed rows.

    ``in_set`` is intentionally NOT suggested from n_distinct alone —
    the profile carries cardinality, not the member list, and
    ``max_set_size`` exists so a caller who fetched the members (one
    extra distinct query) can bound what they inline.

    Driver-side arithmetic over the profile rows (rows = columns, never
    corpus-sized); returns the JSON-codable constraint list that
    ``ConstraintGate(constraints=...)`` / ``StreamingQualityGate``
    accept directly.
    """
    rows = [r.asDict() if hasattr(r, "asDict") else dict(r)
            for r in profile_rows]
    if any(r.get("group") is not None for r in rows):
        raise ValueError("suggest_constraints expects an ungrouped "
                         "profile (groupByCol=None)")
    out: list[dict] = []
    n_rows = max((r["n_rows"] for r in rows), default=0)
    if n_rows:
        out.append({"type": "min_rows",
                    "value": int(n_rows * (1.0 - slack))})
    for r in rows:
        c = r["column"]
        if r["n_null"] == 0:
            out.append({"type": "not_null", "col": c})
        elif r["n_rows"]:
            frac = r["n_null"] / r["n_rows"]
            out.append({"type": "max_null_frac", "col": c,
                        "frac": round(min(1.0, frac * (1.0 + slack)
                                          + 1e-9), 6)})
        nd = r.get("n_distinct")
        if nd is not None and r["n_rows"] and nd == r["n_rows"] \
                and r["n_null"] == 0:
            out.append({"type": "unique", "col": c})
        lo, hi = r.get("min_num"), r.get("max_num")
        if lo is not None and hi is not None:
            span = (hi - lo) or abs(hi) or 1.0
            out.append({"type": "in_range", "col": c,
                        "min": lo - slack * span,
                        "max": hi + slack * span})
    return out


_SUGGEST_SCHEMA = ("ctype string, col string, lo double, hi double, "
                   "members string")


class ConstraintSuggester(AlgoOperator):
    """Profile → ``ConstraintGate`` suite, as one first-class operator —
    the Deequ constraint-suggestion loop (Schelter et al. 2018 §3.4)
    packaged end-to-end: run ``DataProfiler`` (exact distincts, one
    aggregation pass), derive the suite via ``suggest_constraints``,
    and — the piece the bare function deliberately leaves out — fetch
    the member list for small-cardinality categorical columns so
    ``in_set`` rules can be suggested too (one extra distinct query per
    candidate column, each guarded by ``maxSetSize``).

    ``transform(df)`` → one relation, a row per suggested rule:
    ``(ctype, col, lo, hi, members)`` — ``lo`` carries min_rows' value /
    max_null_frac's fraction / in_range's lower bound, ``hi`` in_range's
    upper bound, ``members`` the comma-joined sorted ``in_set`` values.
    ``suggest(df)`` returns the same suite as ``ConstraintGate``-ready
    dicts (use it to bootstrap a gate: ``ConstraintGate(constraints=
    ConstraintSuggester().suggest(batch))``).

    Scale: the profile is ONE corpus scan; member fetches touch only
    columns whose exact distinct count is already ≤ ``maxSetSize``
    (cardinality-sized collects, a handful of rows each).  ``unique``
    columns never fetch members; nothing corpus-sized reaches the
    driver."""

    columns = StringArrayParam(
        "columns", "Columns to profile (None = every profilable "
        "column).", None)
    slack = Param("slack", "Relative widening applied to observed "
                  "bounds (see suggest_constraints).", 0.1,
                  ParamValidators.in_range(0, 1))
    maxSetSize = IntParam(
        "maxSetSize", "Suggest in_set (and fetch members) when a "
        "non-unique column's exact distinct count is at most this.", 32,
        ParamValidators.gt(0))

    def suggest(self, df: DataFrame) -> list[dict]:
        prof = DataProfiler(exactDistinct=True) \
            .set(DataProfiler.columns, self.get_("columns")) \
            .transform(df)[0].collect()
        out = suggest_constraints(prof, slack=float(self.get_("slack")),
                                  max_set_size=self.get_("maxSetSize"))
        cap = int(self.get_("maxSetSize"))
        uniq = {c["col"] for c in out if c["type"] == "unique"}
        for r in prof:
            c = r["column"]
            if c in uniq or not r["n_rows"]:
                continue
            if 0 < int(r["n_distinct"]) <= cap:
                vals = [v[0] for v in df.select(
                    F.col(c).cast("string")).filter(
                        F.col(c).isNotNull()).distinct().collect()]
                out.append({"type": "in_set", "col": c,
                            "allowed": sorted(vals)})
        return out

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        rows = []
        for c in self.suggest(df):
            t = c["type"]
            if t == "min_rows":
                rows.append((t, None, float(c["value"]), None, None))
            elif t == "max_null_frac":
                rows.append((t, c["col"], float(c["frac"]), None, None))
            elif t == "in_range":
                rows.append((t, c["col"], float(c["min"]),
                             float(c["max"]), None))
            elif t == "in_set":
                rows.append((t, c["col"], None, None,
                             ",".join(c["allowed"])))
            else:  # not_null / unique
                rows.append((t, c["col"], None, None, None))
        return [df.sparkSession.createDataFrame(rows, _SUGGEST_SCHEMA)]


def _mg_shrink(counts: dict, capacity: int) -> None:
    """Misra-Gries decrement step: keep at most ``capacity`` counters by
    subtracting the (capacity+1)-largest count from everything and
    dropping the non-positives (the mergeable-summaries formulation,
    Agarwal et al., PODS 2012)."""
    if len(counts) <= capacity:
        return
    pivot = sorted(counts.values(), reverse=True)[capacity]
    for k in [k for k, v in counts.items() if v <= pivot]:
        del counts[k]
    for k in counts:
        counts[k] -= pivot


class FrequentItemsProfiler(AlgoOperator):
    """EXACT top-``k`` heavy hitters over a (possibly huge-cardinality)
    column without shuffling the full item universe — the classic
    two-pass scheme: a mergeable Misra-Gries sketch pass narrows the
    universe to ≤ ``capacity`` candidates, then one exact count pass
    over only the candidate rows ranks them.

    Why not ``groupBy(item).count().orderBy(...).limit(k)``?  That
    shuffles one row per DISTINCT item per partition — at 100 TB a
    token/n-gram universe has billions of distinct items and the
    aggregation state alone is the bottleneck (hash-agg spill, then a
    distinct-sized shuffle).  Here pass 1 is zero-shuffle
    (per-partition sketches of ``capacity`` counters, a few KB each,
    combined on the driver) and pass 2 shuffles only rows whose item is
    a candidate (broadcast hash semi-join), i.e. the heavy rows
    themselves.  Honest boundary, measured: while the distinct-item
    state still FITS executor memory the plain groupBy wins (1-5s vs
    ~10s at 500k docs / 15M distinct on local[32] — a single JVM never
    spills here); the MG path is for item universes that exceed
    aggregation state, where its costs stay capacity-bounded by
    construction instead of growing with the vocabulary.

    Exactness guarantee (mergeable-summaries bound): every item with
    true frequency > n/(capacity+1) survives the merged sketch, so the
    output is PROVABLY the exact top-k whenever the k-th exact count
    clears that bound — reported per run in the ``guaranteed`` column
    (all rows carry the same flag).  A False flag means the tail of the
    ranking may be approximate and ``capacity`` should grow.

    ``itemsCol`` may be a scalar column (profiled as-is) or an array
    column (elements profiled) — arrays iterate inside the Arrow pass,
    no explode materialization.
    """

    itemsCol = Param("itemsCol", "Column to profile: scalar or array "
                     "(elements).", "items", ParamValidators.not_null())
    k = Param("k", "Heavy hitters to report.", 20, ParamValidators.gt(0))
    capacity = Param(
        "capacity", "Misra-Gries counters per sketch; the exactness "
        "bound is n/(capacity+1), so capacity >> n/count(k-th hitter).",
        4096, ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        col = self.get_("itemsCol")
        cap = int(self.get_("capacity"))
        k = int(self.get_("k"))
        is_array = df.schema[col].dataType.simpleString().startswith("array")

        # The sketch runs over xxhash64 TOKEN HASHES computed and
        # exploded JVM-side, so the Arrow crossing is ONE flat int64
        # column (zero-copy into numpy) and per-batch counting is one
        # np.unique — measured 20x cheaper than a string-valued sketch
        # and ~2x cheaper again than shipping list<long> cells at 500k
        # docs.  A hash collision can only MERGE two items' counts,
        # i.e. sketch counts only ever over-estimate, so every true
        # heavy hitter still survives: the candidate set stays a
        # superset and the n/(capacity+1) guarantee is unaffected.
        # Pass 2 counts the actual strings, so collisions never reach
        # the output.  (The explode is a narrow op — no shuffle.)
        if is_array:
            src = (df.select(F.explode(col).alias("__e__"))
                   .filter(F.col("__e__").isNotNull())
                   .select(F.xxhash64("__e__").alias("h")))
        else:
            src = df.filter(F.col(col).isNotNull()) \
                .select(F.xxhash64(col).alias("h"))

        def sketch(it):
            import pandas as pd
            counts: dict = {}
            for pdf in it:
                uniq, cnt = np.unique(pdf["h"].to_numpy(),
                                      return_counts=True)
                for h, c in zip(uniq.tolist(), cnt.tolist()):
                    counts[h] = counts.get(h, 0) + c
                _mg_shrink(counts, cap)
            yield pd.DataFrame({"h": list(counts),
                                "c": list(counts.values())})

        parts = src.mapInPandas(sketch, "h long, c long").collect()
        merged: dict = {}
        for r in parts:
            merged[r["h"]] = merged.get(r["h"], 0) + r["c"]
        _mg_shrink(merged, cap)
        candidates = list(merged)
        spark = df.sparkSession
        # total item count for the guarantee bound — one tiny JVM job
        total = df.select(
            (F.sum(F.size(col)) if is_array else F.count(col))
            .alias("n")).first()["n"] or 0
        if not candidates:
            return [spark.createDataFrame(
                [], "item string, freq long, guaranteed boolean")]
        # pass 2: exact counts over candidate rows only.  Candidate
        # membership via a BROADCAST semi-join on the hash, NOT a
        # literal isin: a capacity-sized In expression is a linear scan
        # of thousands of literals per row (measured 61s vs 4s at 500k
        # docs / 4096 candidates); the broadcast hash join is one probe
        # per row and stays inside codegen.
        items = (df.select(F.explode(col).alias("__e__"))
                 .select(F.col("__e__").cast("string").alias("__i__"))
                 if is_array
                 else df.select(F.col(col).cast("string").alias("__i__")))
        cand_df = spark.createDataFrame([(int(h),) for h in candidates],
                                        "__h__ long")
        exact = (items.filter(F.col("__i__").isNotNull())
                 .join(F.broadcast(cand_df),
                       F.xxhash64("__i__") == F.col("__h__"), "left_semi")
                 .groupBy("__i__").agg(F.count("*").alias("freq"))
                 .orderBy(F.col("freq").desc(), "__i__").limit(k)
                 .collect())
        bound = total / (cap + 1)
        guaranteed = bool(exact) and float(exact[-1]["freq"]) > bound \
            and len(exact) == min(k, len(candidates))
        rows = [(r["__i__"], int(r["freq"]), guaranteed) for r in exact]
        return [spark.createDataFrame(
            rows, "item string, freq long, guaranteed boolean")]


class DiversityProfiler(Transformer, HasInputCol):
    """Corpus lexical-diversity report (the Gopher/MassiveText corpus-
    health metric family): per ``groupByCol`` group (None = whole corpus),
    token and bigram counts, distinct counts, and type-token ratios — the
    canary for boilerplate floods (TTR collapses) and synthetic-loop
    contamination (bigram TTR collapses first).

    Plan: ONE explode of a tagged unigram+bigram stream → ONE groupBy —
    a single shuffle whose payload is tokens once.  Distincts are HLL
    sketches by default (``approx_count_distinct``, mergeable partials,
    no Expand); ``exactDistinct=True`` pays the two-count-distinct
    Expand for oracle-grade numbers (the DataProfiler convention).
    """

    groupByCol = StringParam("groupByCol",
                             "Group column; None = whole corpus.", None)
    exactDistinct = BoolParam("exactDistinct",
                              "Exact distincts instead of HLL.", False)

    def _transform(self, df: DataFrame) -> DataFrame:
        from .textanalysis import _tokens
        toks = _tokens(F.col(self.get_("inputCol")))
        # greatest(.., 0): slice() raises on negative length for an
        # empty/whitespace-only document (zero tokens)
        m = F.greatest(F.size(toks) - 1, F.lit(0))
        bigrams = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                             lambda x, y: F.concat_ws(" ", x, y))
        tag = lambda arr, k: F.transform(
            arr, lambda v: F.struct(F.lit(k).alias("k"), v.alias("v")))
        # explode_OUTER: a group whose documents all tokenize to nothing
        # must still emit an n_tokens=0 row (an all-boilerplate-empty
        # group silently missing from a corpus-health report is exactly
        # the failure the report exists to catch); the when() projections
        # below count only non-null items, so the null placeholder row
        # contributes zero to every aggregate
        items = F.explode_outer(F.concat(tag(toks, 1), tag(bigrams, 2)))
        grp = self.get_("groupByCol")
        keys = [grp] if grp else []
        sel = df.select(*keys, items.alias("it"))
        uni = F.when(F.col("it.k") == 1, F.col("it.v"))
        bi = F.when(F.col("it.k") == 2, F.col("it.v"))
        cd = F.count_distinct if self.get_("exactDistinct") \
            else F.approx_count_distinct
        agg = sel.groupBy(*keys).agg(
            F.count(uni).alias("n_tokens"),
            cd(uni).alias("distinct_tokens"),
            F.count(bi).alias("n_bigrams"),
            cd(bi).alias("distinct_bigrams"))
        ttr = F.when(F.col("n_tokens") > 0,
                     F.col("distinct_tokens") / F.col("n_tokens")) \
            .otherwise(0.0)
        bttr = F.when(F.col("n_bigrams") > 0,
                      F.col("distinct_bigrams") / F.col("n_bigrams")) \
            .otherwise(0.0)
        return agg.withColumn("ttr", ttr).withColumn("bigram_ttr", bttr)


class MetricAnomalyDetector(AlgoOperator):
    """Deequ-style anomaly detection over a METRIC HISTORY (Schelter et
    al. 2018 §3.3): given (metric, ts, value) rows — e.g. per-batch
    DataProfiler/DiversityProfiler outputs appended over time — flag
    each metric's LATEST point against the distribution of its own
    history.  The closer of the data-quality lifecycle: profile →
    suggest → gate → stream-gate → drift → ANOMALY-over-history.

    Strategies:
    - ``zscore``: |latest − mean(history)| > threshold · std(history)
      (sample std; a single-point or zero-variance history only flags
      on exact inequality, never divides by zero);
    - ``rel_change``: |latest / last_prior − 1| > maxRelChange.

    Output: one row per metric — (metric, ts, value, baseline, spread,
    anomalous) where baseline/spread = mean/std (zscore) or
    prior-value/|Δ| (rel_change).

    Plan: histories are metadata-sized relations (metrics × runs), so
    every step — latest-per-metric via a max(ts) aggregate + semi-join,
    baseline aggregates over the rest — is driver-trivial regardless of
    the corpus the metrics were computed FROM.
    """

    metricCol = StringParam("metricCol", "Metric name column.", "metric")
    tsCol = StringParam("tsCol", "Ordering column (run id / epoch).", "ts")
    valueCol = StringParam("valueCol", "Metric value column.", "value")
    strategy = StringParam("strategy", "zscore | rel_change.", "zscore",
                           ParamValidators.in_array(["zscore",
                                                     "rel_change"]))
    threshold = Param("threshold", "z-score cut (zscore strategy).", 3.0,
                      ParamValidators.gt(0))
    maxRelChange = Param("maxRelChange",
                         "Max |value/prior - 1| (rel_change strategy).",
                         0.2, ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (hist,) = inputs
        m, t, v = (self.get_("metricCol"), self.get_("tsCol"),
                   self.get_("valueCol"))
        latest_ts = hist.groupBy(m).agg(F.max(t).alias(t))
        latest = hist.join(latest_ts, [m, t])
        prior = hist.join(latest_ts.withColumnRenamed(t, "__lt__"), m) \
            .filter(F.col(t) < F.col("__lt__"))
        if self.get_("strategy") == "zscore":
            base = prior.groupBy(m).agg(F.avg(v).alias("baseline"),
                                        F.stddev(v).alias("spread"))
            out = (latest.join(base, m, "left")
                   .withColumn(
                       "anomalous",
                       F.when(F.col("baseline").isNull(), F.lit(False))
                       .otherwise(
                           F.abs(F.col(v) - F.col("baseline"))
                           > self.get_("threshold")
                           * F.coalesce(F.col("spread"), F.lit(0.0)))))
        else:
            w = prior.groupBy(m).agg(F.max(t).alias("__pt__"))
            pv = prior.join(w, m).filter(F.col(t) == F.col("__pt__")) \
                .select(F.col(m), F.col(v).alias("baseline"))
            out = (latest.join(pv, m, "left")
                   .withColumn("spread",
                               F.abs(F.col(v) - F.col("baseline")))
                   .withColumn(
                       "anomalous",
                       F.when(F.col("baseline").isNull(), F.lit(False))
                       .otherwise(
                           F.abs(F.col(v) / F.col("baseline") - 1.0)
                           > self.get_("maxRelChange"))))
        return [out.select(m, t, v, "baseline", "spread", "anomalous")]


class KeySkewProfiler(Transformer, HasInputCol):
    """Shuffle-key skew report: per-key row counts with share / rank /
    cumulative share, plus corpus-level concentration summaries (Gini
    coefficient, top-1 / top-k share).  The pre-flight diagnostic for
    every groupBy/join in a pipeline — a 0.9 top-1 share means the next
    shuffle puts 90% of the rows on one task and needs salting or an
    AQE skew join BEFORE it runs at 100 TB, not after.

    Plan: ONE ``groupBy(key)`` count (map-side combine) collapses the
    corpus to the distinct-key relation; the ranks, cumulative counts
    (one ordered collect, or ``dataflow.ordered_prefix_sums`` once the
    keys outgrow one range partition) and the Gini aggregation run over
    THAT — cardinality-sized, the same contract as the MI/frequent-items
    analyzers (an id-like key column is the caller's bug, and
    ``maxKeys`` fails fast on it).

    Gini over per-key counts x₁…x_m sorted ascending:
      G = 2·Σᵢ i·xᵢ / (m·Σx) − (m+1)/m      (i = 1-based ascending rank)

    ``transform(df)`` → one row per key:
    ``(key, cnt, share, rank, cum_share, gini, top1_share, topk_share)``
    with rank 1 = heaviest key and the three summary scalars repeated on
    every row (single-relation output keeps the report joinable)."""

    topK = Param("topK", "k for the top-k concentration share.", 10,
                 lambda v: int(v) > 0)
    maxKeys = Param("maxKeys", "Fail fast above this many distinct keys "
                    "(the report is cardinality-sized).", 10_000_000,
                    lambda v: int(v) > 0)

    def _transform(self, df: DataFrame) -> DataFrame:
        key = self.get_("inputCol")
        spark = df.sparkSession
        counts = (df.groupBy(F.col(key).alias("key"))
                  .agg(F.count("*").alias("cnt"))
                  .localCheckpoint(eager=True))
        m = counts.count()
        schema = ("key string, cnt long, share double, rank long, "
                  "cum_share double, gini double, top1_share double, "
                  "topk_share double")
        if m == 0:
            return spark.createDataFrame([], schema)
        if m > int(self.get_("maxKeys")):
            raise ValueError(
                f"KeySkewProfiler saw {m} distinct keys in '{key}' "
                f"(> maxKeys={self.get_('maxKeys')}); is this an id column?")
        k = int(self.get_("topK"))
        if m < dataflow.ROWS_PER_PART:
            # the key relation fits ONE range partition of
            # dataflow.ordered_prefix_sums: one ordered collect of the
            # checkpointed counts replaces its range-partition / Arrow
            # cumsum machinery (~4 scheduler round-trips → 1, r10).  The
            # sort runs in Spark (same ascending (cnt, key desc) order,
            # so null/type ordering is the engine's), cumsums and top-k
            # sums are exact integers, and iw accumulates doubles
            # sequentially in the same ascending order as the single-
            # partition sum — outputs are bit-identical.
            rows = (counts.orderBy(F.col("cnt").asc(), F.col("key").desc())
                    .select(F.col("key").cast("string").alias("key"), "cnt")
                    .collect())
            ntot = sum(r["cnt"] for r in rows)
            n = float(ntot)
            iw = 0.0
            for i, r in enumerate(rows):
                iw += float(i + 1) * r["cnt"]
            gini = 2.0 * iw / (m * n) - (m + 1) / m
            t1 = sum(r["cnt"] for i, r in enumerate(rows) if m - i <= 1)
            tk = sum(r["cnt"] for i, r in enumerate(rows) if m - i <= k)
            out, ca = [], 0
            for i, r in enumerate(rows):
                ca += r["cnt"]
                out.append((r["key"], int(r["cnt"]), r["cnt"] / n,
                            m - i, (ntot - ca + r["cnt"]) / n,
                            float(gini), float(t1) / n, float(tk) / n))
            return spark.createDataFrame(out, schema)
        # ascending dataflow.ordered_prefix_sums (no single-task global
        # Window even at 10M distinct keys): the running count of ones is
        # the 1-based ascending index i, the running cnt the inclusive
        # cum.  Descending rank / cum_share derive from the ascending
        # pass: with asc order (cnt, key DESC), the desc order (cnt DESC,
        # key ASC) is its exact reverse, so rank = m − i + 1 and
        # cum_desc = n − cum_asc + cnt.
        with dataflow.ordered_prefix_sums(
                counts.withColumn("one", F.lit(1).cast("long")),
                [F.col("cnt").asc(), F.col("key").desc()], ["one", "cnt"],
                m) as cum:
            rank = F.lit(m) - F.col("cum_one") + 1
            tot = cum.agg(
                F.sum("cnt").alias("n"),
                F.sum(F.col("cum_one").cast("double") * F.col("cnt"))
                 .alias("iw"),
                F.sum(F.when(rank <= 1, F.col("cnt")).otherwise(F.lit(0)))
                 .alias("t1"),
                F.sum(F.when(rank <= k, F.col("cnt")).otherwise(F.lit(0)))
                 .alias("tk")).first()
            n = float(tot["n"])
            gini = 2.0 * float(tot["iw"]) / (m * n) - (m + 1) / m
            cum_desc = F.lit(int(tot["n"])) - F.col("cum_cnt") + F.col("cnt")
            # key-count-sized result; materialize before unpersisting
            return (cum
                    .select(F.col("key").cast("string").alias("key"), "cnt",
                            (F.col("cnt") / F.lit(n)).alias("share"),
                            rank.cast("long").alias("rank"),
                            (cum_desc / F.lit(n)).alias("cum_share"),
                            F.lit(float(gini)).alias("gini"),
                            F.lit(float(tot["t1"]) / n).alias("top1_share"),
                            F.lit(float(tot["tk"]) / n).alias("topk_share"))
                    .localCheckpoint(eager=True))


class VocabGrowthProfiler(Transformer, HasInputCol):
    """Vocabulary-growth (Heaps-law) curve: split the corpus into
    ``numSlices`` deterministic hash slices, then report per slice how
    many token TYPES appear for the first time — the marginal-new-
    vocabulary measure behind "is more of this source still adding
    diversity, or just repeating itself?" (type growth flattening is the
    classic saturation signal; near-dup-heavy corpora flatten early).

    Plan: one tagged explode + TWO vocab-keyed aggregations — per-slice
    token totals and per-type ``min(slice)`` (the first-appearance slice)
    — both map-side-combining, the same single-shuffle contract as
    token_drift; the curve itself is ≤ numSlices rows, cumulated
    driver-side over exact integers.  Slicing uses the corpus-prep LCG
    (``sampling._unit_hash``), so slices are reproducible and
    SQL-replayable.

    ``transform(df)`` → one row per non-empty slice:
    ``(slice, tokens, new_types, cum_types, new_type_rate)``."""

    idCol = StringParam("idCol", "Document id column.", "doc_id")
    numSlices = Param("numSlices", "Hash slices (curve points).", 10,
                      lambda v: 1 < int(v) <= 100000)
    salt = Param("salt", "Slice hash salt.", 7, lambda v: True)

    def _transform(self, df: DataFrame) -> DataFrame:
        from .sampling import _unit_hash
        from .textanalysis import _tokens
        b = int(self.get_("numSlices"))
        u = _unit_hash(self.get_("idCol"), int(self.get_("salt")))
        sl = F.least(F.floor(u * b), F.lit(b - 1)).cast("int")
        tok = (df.select(sl.alias("slice"),
                         F.explode(_tokens(F.coalesce(
                             F.col(self.get_("inputCol")), F.lit(""))))
                         .alias("t")))
        tot = tok.groupBy("slice").agg(F.count("*").alias("tokens"))
        first = tok.groupBy("t").agg(F.min("slice").alias("slice"))
        new = first.groupBy("slice").agg(F.count("*").alias("new_types"))
        rows = sorted((r["slice"], int(r["tokens"]),
                       int(r["new_types"] or 0)) for r in
                      tot.join(new, "slice", "left").collect())
        out, cum = [], 0
        for s, tokens, nt in rows:  # ≤ numSlices rows — curve-sized
            cum += nt
            out.append((s, tokens, nt, cum,
                        nt / tokens if tokens else 0.0))
        return df.sparkSession.createDataFrame(
            out, "slice int, tokens long, new_types long, cum_types long, "
                 "new_type_rate double")


class PsiDrift(AlgoOperator, HasInputCol):
    """Population Stability Index between a baseline and a current
    snapshot of one numeric column — the classic "has the score/feature
    distribution moved?" gate (credit-scoring lineage; the standard
    reading: < 0.1 stable, 0.1–0.25 shifting, > 0.25 drifted).  The
    batch complement of the streaming JS gate (`streaming/drift.py`) and
    the structural profile_drift: PSI is symmetric-ish, binned on the
    BASELINE's quantiles, and contribution-decomposable per bin.

    Plan: baseline quantile edges come from one aggregation
    (``approx_percentile`` sketch by default — the 100 TB path;
    ``exactQuantiles=True`` uses exact ``percentile`` for cross-engine
    parity), then each side takes ONE pass binning against the B−1
    literal edges with map-side combine — B-row outputs; shares are
    ε-floored so empty bins stay finite.

    ``transform(baseline, current)`` → one row per bin:
    ``(bin, base_share, cur_share, contrib, psi)`` (psi repeated as a
    literal, contribution-decomposed by bin)."""

    numBins = Param("numBins", "Baseline-quantile bins.", 10,
                    lambda v: 1 < int(v) <= 10000)
    exactQuantiles = BoolParam(
        "exactQuantiles", "Exact percentile edges (buffers the baseline "
        "column — small-data / oracle path) instead of the mergeable "
        "approx_percentile sketch.", False)
    epsilon = Param("epsilon", "Share floor for empty bins.", 1e-6,
                    lambda v: 0 < float(v) < 0.5)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        baseline, current = inputs
        col = self.get_("inputCol")
        b = int(self.get_("numBins"))
        eps = float(self.get_("epsilon"))
        x = F.col(col).cast("double")
        probs = [i / b for i in range(1, b)]
        fn = "percentile" if self.get_("exactQuantiles") \
            else "approx_percentile"
        edges_row = (baseline.filter(x.isNotNull())
                     .agg(F.expr(f"{fn}({col}, array({', '.join(map(str, probs))}))"))
                     .first()[0])
        edges = [float(e) for e in edges_row]

        def binned(df: DataFrame, name: str) -> DataFrame:
            bin_ = sum((x > F.lit(e)).cast("int") for e in edges)
            return (df.filter(x.isNotNull())
                    .groupBy(bin_.alias("bin"))
                    .agg(F.count("*").alias(name)))

        base = binned(baseline, "nb")
        cur = binned(current, "nc")
        spark = baseline.sparkSession
        bins = spark.range(b).select(F.col("id").cast("int").alias("bin"))
        joined = (bins.join(base, "bin", "left").join(cur, "bin", "left")
                  .select("bin",
                          F.coalesce("nb", F.lit(0)).alias("nb"),
                          F.coalesce("nc", F.lit(0)).alias("nc")))
        rows = sorted((r["bin"], int(r["nb"]), int(r["nc"]))
                      for r in joined.collect())  # ≤ numBins rows
        tb = sum(r[1] for r in rows) or 1
        tc = sum(r[2] for r in rows) or 1
        import math
        out = []
        psi = 0.0
        for bin_, nb, nc in rows:
            sb = max(nb / tb, eps)
            sc = max(nc / tc, eps)
            contrib = (sc - sb) * math.log(sc / sb)
            psi += contrib
            out.append((bin_, nb / tb, nc / tc, contrib))
        return [spark.createDataFrame(
            [(bin_, sb_, sc_, c_, psi) for bin_, sb_, sc_, c_ in out],
            "bin int, base_share double, cur_share double, "
            "contrib double, psi double")]


class CorpusDatasheet(Transformer, HasInputCol):
    """One-call corpus datasheet: the "Datasheets for Datasets" (Gebru et
    al. 2021) summary a corpus release ships with, composed from this
    package's profiler family — volume, exact-duplication rate, language
    mix, source concentration (KeySkewProfiler's Gini/top-1), lexical
    diversity — as one tall ``(section, metric, value)`` relation that
    drops straight into a metric store or MetricAnomalyDetector history.

    Scale: one aggregate over the corpus (counts, chars, token counts,
    digest-distinct), one vocabulary-keyed distinct for TTR, one
    lang-counts aggregate, and the KeySkewProfiler pass — every piece is
    the already-audited shape; output is a fixed ~dozen rows plus one
    per observed language."""

    idCol = StringParam("idCol", "Document id column.", "doc_id")
    langCol = StringParam("langCol", "Language column.", "lang")
    sourceCol = StringParam("sourceCol", "Source/domain column.", "source")

    def _transform(self, df: DataFrame) -> DataFrame:
        from .textanalysis import _tokens
        spark = df.sparkSession
        text = F.coalesce(F.col(self.get_("inputCol")), F.lit(""))
        toks = _tokens(text)
        base = df.select(F.col(self.get_("idCol")).alias("id"),
                         text.alias("t"), toks.alias("tk"),
                         F.col(self.get_("langCol")).alias("lang"),
                         F.col(self.get_("sourceCol")).alias("src"))
        agg = base.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("tk")).alias("n_tokens"),
            F.avg(F.length("t")).alias("avg_chars"),
            F.count_distinct(F.md5("t")).alias("n_distinct"),
            F.count_distinct("lang").alias("n_langs")).first()
        n = int(agg["n_docs"])
        if int(agg["n_langs"] or 0) > 10000:
            raise ValueError(
                f"CorpusDatasheet saw {agg['n_langs']} distinct values in "
                f"'{self.get_('langCol')}' — the language-mix section is "
                f"per-language rows; is this really a language column?")
        rows = [("volume", "n_docs", float(n)),
                ("volume", "n_tokens", float(agg["n_tokens"] or 0)),
                ("volume", "avg_chars", float(agg["avg_chars"] or 0.0))]
        if n:
            rows.append(("dedup", "exact_dup_rate",
                         1.0 - int(agg["n_distinct"]) / n))
            # lexical diversity: corpus type-token ratio (exact — the
            # vocab-keyed distinct is the token_drift shuffle shape)
            n_types = (base.select(F.explode("tk").alias("w"))
                       .agg(F.count_distinct("w")).first()[0])
            n_tok = int(agg["n_tokens"] or 0)
            rows.append(("diversity", "ttr",
                         n_types / n_tok if n_tok else 0.0))
            for r in sorted(base.groupBy("lang").count().collect(),
                            key=lambda r: str(r["lang"])):
                rows.append(("language", f"share_{r['lang']}",
                             r["count"] / n))
            skew = (KeySkewProfiler(inputCol="src", topK=5)
                    .transform(base)[0].first())
            rows.append(("skew", "source_gini", float(skew["gini"])))
            rows.append(("skew", "source_top1_share",
                         float(skew["top1_share"])))
        return spark.createDataFrame(
            rows, "section string, metric string, value double")
