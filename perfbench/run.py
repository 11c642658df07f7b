"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload tabular_train --seed 1 --seconds 8 --trace 0

Runs one workload in its own process on a local[nproc] Spark session and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer ones.  Each run also appends one record under
``.perfbench_results/c<cpus>/`` (never overwriting an earlier one).  See
README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(ROOT, ".perfbench_results")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke", "large"),
                    default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import flink_ml_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import session, trace
    from perfbench.workloads import SIZES, WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = session.start(work, ROOT)
    try:
        with trace.RssSampler() as rss:
            rec, tracer, detail = run(spark, args, work, trace, SIZES,
                                      WORKLOADS)
            if args.trace:
                metrics = tracer.layer_metrics(args.workload)
        detail["peak_rss_mb"] = rss.peak_kb / 1024
    finally:
        session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = {m: _layer_unit(m) for m in metrics}
    else:
        metrics, units = {k: detail[k] for k in END_TO_END}, END_TO_END
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    save_record(args, detail, result, rec, tracer.spans)
    for k, m in result["metrics"].items():
        print(f"{args.workload}  {k:<44} {m['value']:14.4f} {m['unit']}")
    for k in ("session_s", "warmup_s", "inputs_s", "measured_s"):
        print(f"{args.workload}  {'detail.' + k:<44} {detail[k]:14.4f} s")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


END_TO_END = {"setup_s": "s", "fit_s": "s", "apply_s": "s",
              "request_p50_ms": "ms", "peak_rss_mb": "MB"}


def run(spark, args, work, trace, sizes, workloads):
    """Set up the inputs, warm up, then run cycles for ``seconds``.
    Returns the recorder, the tracer and the run's detail numbers."""
    tracer = trace.Tracer(spark.sparkContext, enabled=bool(args.trace))
    rec = trace.Recorder(tracer)
    wl = workloads[args.workload](spark, args.seed, sizes[args.size], work,
                                  tracer, rec)
    t0 = time.perf_counter()
    wl.setup()
    t_inputs = time.perf_counter()
    # warm-up: one complete, checked cycle whose timings are dropped (JIT,
    # code generation, Python worker start and imports), on the workload's
    # own inputs or on smoke-size ones (Workload.warm_size)
    warm = wl
    if wl.warm_size:
        warm = workloads[args.workload](spark, args.seed,
                                        sizes[wl.warm_size],
                                        os.path.join(work, "warm"), tracer,
                                        rec)
        warm.setup()
    cycle(spark, warm, rec)
    setup_s = time.perf_counter() - T_START
    rec.samples.clear()
    tracer.spans.clear()

    # whole cycles until ``seconds`` have passed (at least one)
    start = time.perf_counter()
    cycles = 0
    while cycles == 0 or time.perf_counter() - start < args.seconds:
        cycle(spark, wl, rec)
        cycles += 1
    measured = time.perf_counter() - start

    detail = {"setup_s": setup_s, "session_s": t0 - T_START,
              "inputs_s": t_inputs - t0,
              "warmup_s": T_START + setup_s - t_inputs,
              "measured_s": measured, "cycles": cycles,
              **rec.metrics()}
    detail.update({f"n.{k}": len(xs) for k, xs in rec.samples.items()})
    return rec, tracer, detail


def cycle(spark, wl, rec):
    """One cycle, started from a collected heap on both sides, so a GC
    pause left over from earlier work does not land in it."""
    gc.collect()
    spark._jvm.System.gc()
    try:
        wl.cycle()
    except Exception as e:  # a failed operation is counted, the run goes on
        rec.error(f"{type(e).__name__}: {e}")


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def save_record(args, detail, result, rec, spans) -> None:
    """One JSON record per run under .perfbench_results/c<cpus>/, keyed by
    workload, seed and mode; the start time and pid keep names unique."""
    from perfbench.session import cpus
    d = os.path.join(RESULTS, f"c{cpus()}")
    os.makedirs(d, exist_ok=True)
    mode = "trace" if args.trace else "e2e"
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(d, f"{args.workload}-seed{args.seed}-{mode}-"
                           f"{stamp}-{os.getpid()}.json")
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "size": args.size, "cpus": cpus(),
              "loadavg": list(os.getloadavg()), "detail": detail,
              "problems": rec.problems[:20], "samples": rec.samples,
              "spans": spans, **result}
    with open(path, "x") as f:
        json.dump(record, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
