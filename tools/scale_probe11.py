#!/usr/bin/env python
"""Scaling-slope probe, part 11: quantile-bin trees on WIDE inputs
(VERDICT r06 item 4).

Two claims to evidence:

1. ``binStrategy="quantile"`` now defaults to the mergeable
   ``approx_percentile`` sketch — edge-finding must scale ~linearly in
   rowcount and stay far below the exact full-sort ``percentile`` path
   (``exactQuantiles=True``) as width grows.
2. Past ``_CODEGEN_BIN_LIMIT`` total threshold comparisons (wide dim ×
   large maxBins) binning routes through ONE Arrow searchsorted pass —
   fit must not cliff when the chain would have been codegen-hostile,
   and the fitted tree must be identical on both bin paths at a shape
   where both are feasible.

Usage: python tools/scale_probe11.py [rows ...] (default 200000 1000000)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [200_000, 1_000_000]
DIM = 64          # wide features
BINS = 128        # 64 × 127 = 8128 comparisons > _CODEGEN_BIN_LIMIT


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from bench import driver_memory

    from flink_ml_spark.regression import DecisionTreeRegressor
    from flink_ml_spark.regression.tree import _CODEGEN_BIN_LIMIT

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", driver_memory())
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warmup

    def synth(n: int, dim: int):
        # deterministic skewed features: LCG-scaled powers so quantile
        # bins actually differ from uniform
        feats = F.array(*[
            F.pow(F.lit(10.0),
                  ((F.col("id") * (2654435761 + i) + 7) % 97) / 24.0)
            for i in range(dim)])
        return (spark.range(n)
                .select(feats.alias("features"),
                        ((F.col("id") % 1000) / 100.0).alias("label")))

    print(f"dim={DIM} bins={BINS} comparisons={DIM * (BINS - 1)} "
          f"(codegen limit {_CODEGEN_BIN_LIMIT})")
    # warm the Arrow worker pool + codegen templates OUTSIDE the timed
    # region (the first fit otherwise pays ~100s of one-time JVM/worker
    # startup and the comparison reads as a sketch regression)
    DecisionTreeRegressor(maxDepth=2, maxBins=BINS,
                          binStrategy="quantile").fit(synth(20_000, DIM))

    def timed_fit(df, **kw) -> float:
        # min-of-2: first-position fits absorb residual JIT/codegen
        # cold costs that otherwise mis-attribute to the variant
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            DecisionTreeRegressor(maxDepth=3, maxBins=BINS,
                                  binStrategy="quantile", **kw).fit(df)
            best = min(best, time.time() - t0)
        return best

    for n in SIZES:
        df = synth(n, DIM).localCheckpoint(eager=True)
        approx_t = timed_fit(df)
        exact_t = timed_fit(df, exactQuantiles=True)
        print(f"rows={n}: approx-sketch fit {approx_t:.1f}s, "
              f"exact-percentile fit {exact_t:.1f}s, min-of-2 "
              f"(sketch state bounded at any scale; exact buffers the "
              f"whole column in ONE final agg group — local-only)")
        df.unpersist()

    # bin-path parity at a both-feasible shape: same tree, either path
    from flink_ml_spark.regression import tree as tree_mod
    df = synth(50_000, 8).localCheckpoint(eager=True)
    m_expr = DecisionTreeRegressor(maxDepth=3, maxBins=16).fit(df)
    saved = tree_mod._CODEGEN_BIN_LIMIT
    tree_mod._CODEGEN_BIN_LIMIT = 0  # force the Arrow searchsorted path
    try:
        m_arrow = DecisionTreeRegressor(maxDepth=3, maxBins=16).fit(df)
    finally:
        tree_mod._CODEGEN_BIN_LIMIT = saved
    same = m_expr.model_data["nodes"] == m_arrow.model_data["nodes"]
    print(f"bin-path parity (expr vs arrow): "
          f"{'IDENTICAL' if same else 'MISMATCH'}")
    if not same:
        sys.exit(1)


if __name__ == "__main__":
    main()
