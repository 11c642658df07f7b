"""Distance measures as Column-expression builders.

Reference: flink-ml-servable-core/.../common/distance/DistanceMeasure.java
(+ Euclidean/Manhattan/CosineDistanceMeasure.java).  Spark-first: distance
to each (literal) centroid is a codegen'd expression — no UDF in the
assignment hot path; norm precomputation (VectorWithNorm.java) is folded
into the literals.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

from . import sqltext as S


def _sum_terms(terms) -> Column:
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def distance_expr(col: Column, center: np.ndarray, measure: str) -> Column:
    # narrow vectors: unrolled left-to-right term sum — stays in
    # whole-stage codegen (higher-order lambdas are interpreted, and this
    # sits in the k*dim Lloyd assignment hot path); identical float
    # summation order to the HOF fold used for wide vectors
    dim = len(center)
    if dim <= 16:
        if measure == "euclidean":
            return _sum_terms([(col[j] - float(center[j]))
                               * (col[j] - float(center[j]))
                               for j in range(dim)])  # squared
        if measure == "manhattan":
            return _sum_terms([F.abs(col[j] - float(center[j]))
                               for j in range(dim)])
        if measure == "cosine":
            dot = _sum_terms([col[j] * float(center[j]) for j in range(dim)])
            xnorm = F.sqrt(_sum_terms([col[j] * col[j] for j in range(dim)]))
            cnorm = float(np.linalg.norm(center))
            return F.lit(1.0) - dot / (xnorm * F.lit(cnorm if cnorm != 0 else 1.0))
    c = F.expr(S.double_array(center))
    if measure == "euclidean":
        d = F.zip_with(col, c, lambda x, y: x - y)
        return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)  # squared
    if measure == "manhattan":
        d = F.zip_with(col, c, lambda x, y: F.abs(x - y))
        return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)
    if measure == "cosine":
        dot = F.aggregate(F.zip_with(col, c, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        xnorm = F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))
        cnorm = float(np.linalg.norm(center))
        return F.lit(1.0) - dot / (xnorm * F.lit(cnorm if cnorm != 0 else 1.0))
    raise ValueError(f"unknown distance measure {measure}")


def closest_centroid_expr(col: Column, centers: np.ndarray, measure: str) -> Column:
    """Index of the nearest centroid (ties → lowest index), one codegen'd
    expression over k*dim terms."""
    dists = F.array(*[distance_expr(col, centers[i], measure)
                      for i in range(len(centers))])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def distance_np(x: np.ndarray, centers: np.ndarray, measure: str) -> np.ndarray:
    """Batch distances (rows of x) × (rows of centers) — numpy mirror for
    local inference; returns (n, k)."""
    if measure == "euclidean":
        # gemm form |x|² + |c|² - 2x·c (norm precomputation à la
        # VectorWithNorm.java) — O(nk) memory, BLAS-backed, instead of an
        # (n,k,dim) broadcast tensor
        x2 = (x * x).sum(axis=1)[:, None]
        c2 = (centers * centers).sum(axis=1)[None, :]
        return np.maximum(x2 + c2 - 2.0 * (x @ centers.T), 0.0)
    if measure == "manhattan":
        return np.abs(x[:, None, :] - centers[None, :, :]).sum(axis=2)
    if measure == "cosine":
        xn = np.linalg.norm(x, axis=1, keepdims=True)
        cn = np.linalg.norm(centers, axis=1, keepdims=True).T
        xn[xn == 0] = 1.0
        cn[cn == 0] = 1.0
        return 1.0 - (x @ centers.T) / (xn * cn)
    raise ValueError(measure)
