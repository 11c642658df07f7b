"""Spans, operation timing, and per-layer attribution from Spark's status
store.

``Recorder`` times the benchmark's operations and counts the checked ones.
``Tracer`` (traced runs only) keeps one span per call into a layer; each
span tags the Spark jobs it launches with a job tag of its own, and the
innermost span owns a job.  Nothing is read from Spark while the workload
runs: the status store is read once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

# per-span counters, in the order they are reported
COUNTERS = ("wall_ms", "driver_ms", "jobs", "tasks", "task_run_ms",
            "jvm_cpu_ms", "shuffle_write_bytes", "spill_bytes")
SPANS = (
    "pipeline.fit", "feature.fit", "classification.fit",
    "evaluation.transform",
    "llmdata.sketches.fit", "llmdata.sketches.transform",
    "llmdata.dedup.exact", "llmdata.dedup.minhash",
    "llmdata.bm25.fit", "llmdata.bm25.update", "llmdata.bm25.query",
    "llmdata.ivf.fit", "llmdata.ivf.transform", "llmdata.ivf.search",
)
# extra per-layer metrics: (span, field)
EXTRAS = (("evaluation.transform", "max_task_ms"),
          ("llmdata.dedup.minhash", "max_task_ms"),
          ("llmdata.bm25.query", "shuffle_read_bytes"),
          ("llmdata.ivf.search", "shuffle_read_bytes"))
WORKLOADS = ("tabular_train", "corpus_retrieval")


def layer_metric_names() -> list[str]:
    names = [f"{s}.{c}" for s in SPANS for c in COUNTERS]
    names += ["pipeline.fit.self_ms"]
    names += [f"{s}.{f}" for s, f in EXTRAS]
    names += ["servable.transform_local.p50_ms"]
    names += [f"{w}.failed_tasks" for w in WORKLOADS]
    return names


class Recorder:
    """Times operations, keyed by the end-to-end metric they feed and the
    part of that metric they are, and counts checked operations and
    failures."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def time(self, metric: str, part: str, fn, *args):
        """Time ``fn(*args)`` as one sample of ``metric:part``."""
        self.tracer.op_index += 1
        t0 = time.perf_counter()
        out = fn(*args)
        self.samples.setdefault(f"{metric}:{part}", []).append(
            time.perf_counter() - t0)
        return out

    def metrics(self) -> dict[str, float]:
        """Each metric is the sum over its parts of the part's median
        sample (``_ms`` metrics in milliseconds, others in seconds)."""
        out: dict[str, float] = {}
        for key, xs in self.samples.items():
            metric = key.split(":")[0]
            scale = 1000.0 if metric.endswith("_ms") else 1.0
            out[metric] = out.get(metric, 0.0) + statistics.median(xs) * scale
        return out

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    def error(self, what: str) -> None:
        """An operation that raised: attempted and failed."""
        self.attempted += 1
        self.failed += 1
        self.problems.append(what)
        traceback.print_exc(file=sys.stderr)


class Tracer:
    """One span per call into a layer.  Disabled: ``span`` is a no-op and
    no stage class is wrapped."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_index = 0
        self._ids = itertools.count()   # never reset: tags stay unique

    @contextmanager
    def span(self, name: str):
        if not self.enabled or (self.stack and self.stack[-1]["name"] == name):
            # re-entrant call into the same layer (e.g. CountMinSketch.fit
            # inside FrequentLineFilter.fit) stays in the outer span
            yield
            return
        parent = self.stack[-1] if self.stack else None
        sp = {"id": f"perfbench-span-{next(self._ids)}", "name": name,
              "parent": parent["id"] if parent else None,
              "op": self.op_index}
        if parent:
            self.sc.removeJobTag(parent["id"])
        self.sc.addJobTag(sp["id"])
        self.stack.append(sp)
        sp["start"] = time.time()
        try:
            yield
        finally:
            sp["end"] = time.time()
            self.stack.pop()
            self.sc.removeJobTag(sp["id"])
            if parent:
                self.sc.addJobTag(parent["id"])
            self.spans.append(sp)

    def wrap(self, cls, method: str, name: str) -> None:
        """Record a span around ``cls.method`` (the class is patched for
        this process only; its source is never edited)."""
        orig = getattr(cls, method)
        if not self.enabled or getattr(orig, "_perfbench_span", None):
            return
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)
        traced._perfbench_span = name
        setattr(cls, method, traced)

    # ------------------------------------------------------ attribution

    def layer_metrics(self, workload: str) -> dict[str, float]:
        """Per-layer metrics: for each span name, sum the spans of one
        operation, then take the median over the operations that called
        that layer.  Layers the workload never called report 0."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60000)
        per_span = _read_status_store(jsc.statusStore(), self.spans)
        for sp in self.spans:
            sp["counters"] = per_span[sp["id"]]
        by_name: dict[str, dict[int, dict]] = {}
        for sp in self.spans:
            acc = by_name.setdefault(sp["name"], {}).setdefault(sp["op"], {})
            for k, v in per_span[sp["id"]].items():
                acc[k] = max(acc.get(k, 0), v) if k == "max_task_ms" \
                    else acc.get(k, 0) + v
        out: dict[str, float] = {}
        for name in SPANS:
            ops = list(by_name.get(name, {}).values())
            for c in COUNTERS:
                out[f"{name}.{c}"] = _median([o[c] for o in ops])
        for name, field in EXTRAS:
            ops = list(by_name.get(name, {}).values())
            out[f"{name}.{field}"] = _median([o[field] for o in ops])
        # self time: pipeline.fit minus the child spans it covers
        kids: dict[str, float] = {}
        for sp in self.spans:
            if sp["parent"]:
                kids[sp["parent"]] = kids.get(sp["parent"], 0.0) + \
                    (sp["end"] - sp["start"]) * 1000
        out["pipeline.fit.self_ms"] = _median(
            [(sp["end"] - sp["start"]) * 1000 - kids.get(sp["id"], 0.0)
             for sp in self.spans if sp["name"] == "pipeline.fit"])
        out["servable.transform_local.p50_ms"] = _median(
            [(sp["end"] - sp["start"]) * 1000 for sp in self.spans
             if sp["name"] == "servable.transform_local"])
        failed = sum(per_span[sp["id"]]["failed_tasks"]
                     for sp in self.spans if sp["parent"] is None)
        for w in WORKLOADS:
            out[f"{w}.failed_tasks"] = failed if w == workload else 0
        return {n: out[n] for n in layer_metric_names()}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _read_status_store(store, spans: list[dict]) -> dict[str, dict]:
    """Jobs → spans by job tag; stages → counters.  A span's counters
    include the jobs of the spans nested in it.  driver_ms is the span's
    wall time minus the union of its stages' submit→complete intervals."""
    from py4j.protocol import Py4JJavaError
    ids = {sp["id"] for sp in spans}
    stages_of: dict[str, set] = {sid: set() for sid in ids}
    jobs_of: dict[str, int] = {sid: 0 for sid in ids}
    for job in _seq(store.jobsList(None)):
        tags = [t for t in _seq(job.jobTags()) if t in ids]
        if not tags:
            continue
        jobs_of[tags[0]] += 1
        stages_of[tags[0]].update(_seq(job.stageIds()))
    # spans close child-first, so each child is folded into its parent
    # before the parent is folded into its own
    for sp in spans:
        if sp["parent"]:
            stages_of[sp["parent"]] |= stages_of[sp["id"]]
            jobs_of[sp["parent"]] += jobs_of[sp["id"]]
    from pyspark import SparkContext
    gw = SparkContext._gateway
    q_max = gw.new_array(gw.jvm.double, 1)      # the 1.0 quantile: max
    q_max[0] = 1.0
    out = {}
    for sp in spans:
        c = dict.fromkeys(COUNTERS, 0.0)
        c.update(max_task_ms=0.0, shuffle_read_bytes=0.0, failed_tasks=0.0)
        c["jobs"] = jobs_of[sp["id"]]
        intervals = []
        for stage_id in stages_of[sp["id"]]:
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:    # evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["tasks"] += st.numTasks()
            c["task_run_ms"] += st.executorRunTime()
            c["jvm_cpu_ms"] += st.executorCpuTime() / 1e6
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spill_bytes"] += st.diskBytesSpilled()
            c["failed_tasks"] += st.numFailedTasks()
            s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if s0 is not None and s1 is not None:
                intervals.append((max(s0, sp["start"] * 1000),
                                  min(s1, sp["end"] * 1000)))
            c["max_task_ms"] = max(c["max_task_ms"], _max_task_ms(
                store, stage_id, st.attemptId(), q_max))
        wall = (sp["end"] - sp["start"]) * 1000
        c["wall_ms"] = wall
        c["driver_ms"] = max(0.0, wall - _union(intervals))
        out[sp["id"]] = c
    return out


def _max_task_ms(store, stage_id: int, attempt: int, q_max) -> float:
    summ = store.taskSummary(stage_id, attempt, q_max)
    return float(summ.get().duration().apply(0)) if summ.isDefined() else 0.0


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc.  Only the descendant tree
    is read, so a sample costs a few file reads however many processes the
    host runs."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:                  # the process ended meanwhile
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total
