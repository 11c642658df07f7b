#!/usr/bin/env python
"""Physical-plan audit over the query registry: for each query, inspect
the executed/optimized plan for the properties that matter at 100 TB —
no BroadcastNestedLoopJoin, no single-partition global Sort/Window on
row data, parquet column pruning (ReadSchema narrower than the table),
and filter pushdown where the query filters a scan column.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Prints one line per query: flags + exchange/sort counts, then a summary.
Exit 1 if any red flag fires (BNLJ or single-partition wide op).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

# streaming-sink queries run a full streaming job at import of the plan;
# their physical shape is covered by their own tests — skip here
SKIP = {"stateful_sessions", "streaming_dedup"}

# PERMANENT BY-CONTRACT ALLOWLIST (do not re-litigate): exact /
# brute-force baselines whose all-pairs BroadcastNestedLoopJoin IS the
# declared contract, not an oversight.  Sources:
#   embedding_dedup  — BruteForceKNNJoin truth baseline
#                      (flink_ml_spark/llmdata/simsearch.py:52)
#   ann_bruteforce   — declared exact-scan baseline the IVF/LSH paths
#                      are graded against (simsearch.py:461)
#   ann_recall       — recall measurement embeds the brute-force exact
#                      ground truth as one side (simsearch.py:480)
#   als_recommend    — ALSModel.recommend_for_users scores requested
#                      users against the BROADCAST item-factor catalog
#                      (capped, fail-fast above max_broadcast_items);
#                      exact top-k over all items IS the contract
#                      (recommendation/als.py:recommend_for_users)
# The corresponding scale paths are embedding_dedup_lsh,
# ann_ivf / ann_ivf_pq, and an ANN index over item factors.  The audit
# prints these under an explicit "by-contract" section in its summary.
BNLJ_BY_CONTRACT = {"embedding_dedup", "ann_bruteforce", "ann_recall",
                    "als_recommend"}


def audit(name, df):
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    flags = []
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("bnlj-by-contract" if name in BNLJ_BY_CONTRACT
                     else "BNLJ")
    # a SinglePartition exchange feeding a Sort/Window over row data is
    # the classic driver-scale bottleneck; final tiny aggs are fine.
    # The CONSUMER prints ABOVE the exchange in Spark's top-down plan
    # string, so scan the preceding context, not the child subtree.
    for m in re.finditer(r"Exchange SinglePartition", plan):
        ctx = plan[max(0, m.start() - 400):m.start()]
        if "Sort " in ctx or "Window " in ctx or "RunningWindowFunction" in ctx:
            flags.append("1PARTWIDE")
            break
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    n_cols = [len(s.split(",")) for s in scans if s]
    return {
        "flags": flags,
        "red": [f for f in flags if f in ("BNLJ", "1PARTWIDE")],
        "exchanges": plan.count("Exchange"),
        "sorts": plan.count("Sort "),
        "scan_cols": n_cols,
        "pushed": sum(1 for p in pushed if p.strip()),
    }


def main():
    from flink_ml_spark.benchmark.session import session
    from flink_ml_spark.queries import all_queries

    spark = session("plan_audit", cpus=8, partitions=16)

    bad = 0
    rows = []
    for name, (fn, _) in all_queries().items():
        if ONLY and name not in ONLY:
            continue
        if name in SKIP:
            continue
        try:
            df = fn(spark, SF_DIR)
            r = audit(name, df)
        except Exception as e:  # noqa: BLE001 — report, keep auditing
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        finally:
            spark.catalog.clearCache()
        flag = ",".join(r["flags"]) if r["flags"] else "ok"
        if r["red"]:
            bad += 1
        rows.append((name, flag, r))
        print(f"{flag:18s} {name}: exch={r['exchanges']} "
              f"sorts={r['sorts']} scan_cols={r['scan_cols']} "
              f"pushed_filters={r['pushed']}")
    contract = [n for n, f, _ in rows if "bnlj-by-contract" in f]
    if contract:
        print("\nby-contract (permanent allowlist — declared brute-force"
              " truth baselines, see BNLJ_BY_CONTRACT):")
        for n in contract:
            print(f"  {n}")
    print(f"\n{len(rows)} audited, {bad} flagged")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
