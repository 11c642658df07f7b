#!/usr/bin/env python
"""Per-query A/B measurement harness for optimization rounds.

Runs the named queries in the same session as bench.py (``BENCH_CONF``
and ``warm_up`` from ``flink_ml_spark.benchmark.session``, on
$SPARK_GRAFT_CPUS or the host's cores), times fn(spark, sf_dir) +
df.count() twice per query (reporting single and min-of-2), and
optionally writes
``.explain("formatted")`` output to <plans_dir>/<query>_<tag>.txt.

Usage:
  python tools/measure_queries.py [--sf DIR] [--plans-dir DIR --tag before]
                                  query [query ...]

Prints one JSON line: {"queries": {name: {"single": s, "min2": s}},
"loadavg": [...]}.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_ml_spark.benchmark.session import (BENCH_CONF, host_cpus,
                                              run_isolated, session, warm_up)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    cpus = host_cpus()
    spark = session("flink_ml_spark_measure", cpus, conf=BENCH_CONF)

    from flink_ml_spark.queries import queries_dict
    queries = queries_dict()
    warm_up(spark, cpus)

    def write_plan(name, df):
        os.makedirs(args.plans_dir, exist_ok=True)
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception:
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        with open(os.path.join(args.plans_dir,
                               f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = queries.get(name)
        if fn is None:
            out[name] = {"error": "unknown"}
            continue
        times = []
        for rep in range(max(1, args.reps)):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            inspect = functools.partial(write_plan, name) \
                if rep == 0 and args.plans_dir and args.tag else None
            try:
                times.append(run_isolated(spark, fn, args.sf, inspect))
            except Exception as e:
                out[name] = {"error": str(e)[:300]}
                break
        if name not in out:
            out[name] = {"single": times[0], "min2": min(times)}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out,
                      "loadavg": list(os.getloadavg()),
                      "sf": args.sf}))


if __name__ == "__main__":
    main()
