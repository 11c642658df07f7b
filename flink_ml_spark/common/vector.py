"""Vector column helpers over plain ``array<double>`` columns.

Design note (SURVEY §1.3): the reference carries custom Dense/SparseVector
types with Flink serializers (flink-ml-servable-core/.../linalg/*.java).
Spark-first we standardize on native ``array<double>`` columns so every
vector op stays inside whole-stage codegen via higher-order functions
(F.transform / F.zip_with / F.aggregate) — no UDT, no Python round-trip,
and results stay comparable by external SQL engines.  Sparse vectors are
``struct<size:int, indices:array<int>, values:array<double>>`` (sorted
indices, mirroring SparseVector.java:32).  BLAS (BLAS.java:30-204) maps to
expressions here + numpy inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F

from . import sqltext as S

DOUBLE_ARRAY = "array<double>"
SPARSE_STRUCT = "struct<size:int,indices:array<int>,values:array<double>>"


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Above this, a single unrolled dot/norm would bloat the generated method
# toward janino's 64 KB limit; below it, unrolling beats the interpreted
# HOF fold by an order of magnitude in wide-join hot paths.
UNROLL_DIM_CAP = 128


def _unrolled(dim: int | None) -> bool:
    return dim is not None and 0 < dim <= UNROLL_DIM_CAP


def dot_fixed(a: str, b: str, dim: int | None) -> str:
    """SQL text of the dot product of array columns ``a`` and ``b`` (names)
    for a KNOWN dimension: an unrolled left-to-right term sum that stays
    inside whole-stage codegen.  The HOF form runs its lambda INTERPRETED
    per element — on a candidate join emitting 10⁸ rows that is billions
    of lambda evals and dominates the whole operator (IVF probe at 500k
    rows measured ~8× slower than this).  Summation order matches the HOF
    fold (acc + x, left to right), so results are bit-identical and oracle
    hashes don't move; unknown/large dims fall back to the HOF
    (BLAS.dot, BLAS.java:90-118)."""
    a, b = S.name(a), S.name(b)
    if not _unrolled(dim):
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
                f"(acc, x) -> acc + x)")
    return S.left_sum(["0.0D"] + [f"{a}[{j}] * {b}[{j}]" for j in range(dim)])


def sq_norm_fixed(a: str, dim: int | None) -> str:
    """SQL text of the sum of squares of array column ``a`` (a name), with
    the same unroll/fallback contract as ``dot_fixed`` (sqrt it for the
    2-norm)."""
    a = S.name(a)
    if not _unrolled(dim):
        return f"aggregate({a}, 0.0D, (acc, x) -> acc + x * x)"
    return S.left_sum(["0.0D"] + [f"{a}[{j}] * {a}[{j}]" for j in range(dim)])


def p_norm(a, p: float = 2.0) -> Column:
    """Minkowski p-norm (BLAS.norm / normalizer semantics).

    p = inf is represented by float('inf').
    """
    a = _c(a)
    if p == float("inf"):
        return F.array_max(F.transform(a, F.abs))
    if p == 1.0:
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + F.abs(x))
    if p == 2.0:
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.pow(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + F.pow(F.abs(x), F.lit(p))),
        F.lit(1.0 / p))


def to_dense(col, size: int | None = None) -> Column:
    """Sparse struct → dense array.  Needs explicit or embedded size."""
    c = _c(col)
    n = F.lit(size) if size is not None else c["size"]
    idx = F.sequence(F.lit(0), n - 1)
    return F.transform(
        idx,
        lambda i: F.coalesce(
            F.element_at(F.map_from_arrays(c["indices"], c["values"]), i),
            F.lit(0.0)))


def is_sparse_type(df, col_name: str) -> bool:
    dtype = dict((f.name, f.dataType.simpleString())
                 for f in df.schema.fields)[col_name]
    return dtype.startswith("struct")


def _sparse_scatter_udf():
    """Arrow-batched sparse→dense scatter (one crossing, numpy fill per
    row) — predictable O(nnz + size) per row vs the per-element map
    lookups of ``to_dense``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def scatter(size: pd.Series, idx: pd.Series, vals: pd.Series) -> pd.Series:
        out = []
        for n, i, v in zip(size, idx, vals):
            d = np.zeros(int(n))
            if i is not None and len(i):
                d[np.asarray(i, dtype=int)] = np.asarray(v, dtype=float)
            out.append(d)
        return pd.Series(out)

    return scatter


def dense_input(df, col_name: str) -> Column:
    """Vector-input acceptance: dense ``array<double>`` (or any numeric
    array, cast) and the sparse struct {size, indices, values} are
    interchangeable everywhere a features column is consumed — the
    reference accepts both via its Vector hierarchy
    (testInputTypeConversion, e.g. KMeansTest.java:191)."""
    c = _c(col_name)
    if is_sparse_type(df, col_name):
        return _sparse_scatter_udf()(c["size"], c["indices"], c["values"])
    return c.cast(DOUBLE_ARRAY)
