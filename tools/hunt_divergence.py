#!/usr/bin/env python
"""Divergence hunter for the five driver-red queries: run each query's
SPARK side in a fresh interpreter under a perturbed environment
(PYTHONHASHSEED, master thread count, shuffle partitions, AQE) and
print the driver-style value hash.  Any hash movement across
perturbations reproduces the driver/local divergence locally.

Usage: python tools/hunt_divergence.py          # all perturbations
       python tools/hunt_divergence.py <mode>   # single mode (internal)
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = ["mutual_information", "conformal_interval", "vocab_growth",
           "cross_validation", "llm_prep_pipeline_v13", "knn"]
SF = "/root/testdata/sf0.01"

MODES = {
    # mode -> (PYTHONHASHSEED, cores, shuffle_partitions, extra_conf)
    "base": ("0", 8, 16, {}),
    "seed1": ("1", 8, 16, {}),
    "seed2": ("31337", 8, 16, {}),
    "seedrand": (None, 8, 16, {}),
    "narrow": ("0", 2, 3, {}),
    "wide": ("0", 32, 200, {}),
    "noaqe": ("0", 8, 16, {"spark.sql.adaptive.enabled": "false"}),
    "ansi": ("0", 8, 16, {"spark.sql.ansi.enabled": "true"}),
    "noarrow": ("0", 8, 16,
                {"spark.sql.execution.arrow.pyspark.enabled": "false"}),
}


def run_mode(mode: str) -> None:
    _, cpus, partitions, extra = MODES[mode]
    from flink_ml_spark.benchmark.session import session
    spark = session(f"hunt_divergence_{mode}", cpus, partitions, extra)
    os.environ["SPARK_GRAFT_SF_DIR"] = SF
    from tools.check_oracle import table_hash
    import __spark_entry__ as entry
    qs = entry.queries()
    for name in QUERIES:
        try:
            sdf = qs[name](spark, SF)
            rows = [tuple(r) for r in sdf.collect()]
            h = table_hash(sdf.columns, rows)
            print(f"RESULT {mode} {name} {len(rows)} {h}", flush=True)
        except Exception as e:
            print(f"RESULT {mode} {name} ERR "
                  f"{str(e).splitlines()[0][:90]}", flush=True)


def main() -> None:
    if len(sys.argv) > 1:
        run_mode(sys.argv[1])
        return
    results: dict[str, dict[str, str]] = {q: {} for q in QUERIES}
    for mode in MODES:
        env = dict(os.environ)
        env.pop("PYTHONHASHSEED", None)
        if MODES[mode][0] is not None:
            env["PYTHONHASHSEED"] = MODES[mode][0]
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), mode],
            capture_output=True, text=True, env=env, timeout=1800)
        for ln in p.stdout.splitlines():
            if ln.startswith("RESULT "):
                _, m, q, n, h = ln.split(None, 4)
                results[q][m] = f"{n}:{h}"
                print(ln, flush=True)
        if p.returncode != 0:
            print(f"mode {mode} rc={p.returncode} "
                  f"stderr tail: {p.stderr[-400:]}")
    print("\n=== summary (distinct hashes per query) ===")
    for q in QUERIES:
        vals = set(results[q].values())
        tag = "STABLE" if len(vals) == 1 else "DIVERGES"
        print(f"{tag} {q}: {len(vals)} distinct across {len(results[q])} modes")
        if len(vals) > 1:
            for m, v in results[q].items():
                print(f"    {m}: {v}")


if __name__ == "__main__":
    main()
