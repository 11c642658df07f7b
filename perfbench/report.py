"""Summarize the run records under .perfbench_results/c<cpus>/.

    python3 perfbench/report.py [--cpus 4]

For each workload: every end-to-end metric's median, quartiles and
quartile spread (as a share of the median) over the untraced runs, and the
tracing overhead — traced minus untraced median of the same timings, over
the traced runs' seeds.  Then, for each workload and input size with traced
runs, where the time goes: per span, the wall time, its driver-side share
(no stage running) and the task time against JVM CPU time.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench_results")
TIMINGS = ("fit_s", "apply_s", "request_p50_ms")


def main() -> None:
    from perfbench.session import cpus
    from perfbench.trace import SPANS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cpus", type=int, default=cpus())
    args = ap.parse_args()
    recs = [json.load(open(f)) for f in sorted(glob.glob(
        os.path.join(RESULTS, f"c{args.cpus}", "*.json")))]
    for w in sorted({r["workload"] for r in recs}):
        e2e = [r for r in recs if r["workload"] == w and not r["trace"]
               and r["size"] == "full"]
        traced = [r for r in recs if r["workload"] == w and r["trace"]
                  and r["size"] == "full"]
        print(f"{w}: {len(e2e)} untraced runs "
              f"({sum(not r['correct'] for r in e2e)} incorrect), "
              f"{len(traced)} traced")
        for m in (e2e[0]["metrics"] if e2e else {}):
            v = [r["metrics"][m]["value"] for r in e2e]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med] * 3
            print(f"  {m:<16} median {med:10.3f}  q1 {q[0]:10.3f}  "
                  f"q3 {q[2]:10.3f}  spread {(q[2] - q[0]) / med:6.3f}")
        seeds = {r["seed"] for r in traced}
        for m in TIMINGS:
            a = [r["detail"][m] for r in traced if m in r["detail"]]
            b = [r["detail"][m] for r in e2e
                 if r["seed"] in seeds and m in r["detail"]]
            if a and b:
                ma, mb = statistics.median(a), statistics.median(b)
                print(f"  trace overhead {m:<16} {ma - mb:+10.3f} "
                      f"({(ma - mb) / mb:+.1%} of {mb:.3f})")
    for w, size in sorted({(r["workload"], r["size"]) for r in recs
                           if r["trace"]}):
        traced = [r for r in recs if r["trace"] and r["workload"] == w
                  and r["size"] == size]
        print(f"{w} size={size}: where the time goes, median of "
              f"{len(traced)} traced runs (ms; spans include nested spans)")
        print(f"  {'span':<28} {'wall':>8} {'driver':>8} {'share':>6} "
              f"{'jobs':>5} {'task_run':>9} {'jvm_cpu':>8}")
        for span in SPANS:
            v = {c: statistics.median(r["metrics"][f"{span}.{c}"]["value"]
                                      for r in traced)
                 for c in ("wall_ms", "driver_ms", "jobs", "task_run_ms",
                           "jvm_cpu_ms")}
            if v["wall_ms"] > 0:
                print(f"  {span:<28} {v['wall_ms']:8.0f} {v['driver_ms']:8.0f}"
                      f" {v['driver_ms'] / v['wall_ms']:6.0%} {v['jobs']:5.0f}"
                      f" {v['task_run_ms']:9.0f} {v['jvm_cpu_ms']:8.0f}")


if __name__ == "__main__":
    import sys
    sys.path.insert(0, os.path.dirname(HERE))
    main()
