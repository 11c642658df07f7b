"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The generator, AUC, recorder and interval tests take seconds;
``test_smoke_run`` starts one Spark process per workload at the smoke size
(60–90 s each: JVM start, then cycles of Spark jobs whose cost hardly
depends on the row count).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, trace  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.workloads import auc  # noqa: E402


def test_generators_are_seeded():
    a, b = datagen.corpus(7, 400), datagen.corpus(7, 400)
    assert a.docs.equals(b.docs) and a.neardup_pairs == b.neardup_pairs
    assert not a.docs.equals(datagen.corpus(8, 400).docs)
    assert datagen.tabular(7, 300).equals(datagen.tabular(7, 300))
    r1, r2 = datagen.retrieval(7, 300), datagen.retrieval(7, 300)
    assert np.array_equal(r1.emb, r2.emb) and r1.docs["text"].equals(
        r2.docs["text"])


def test_corpus_truth_is_planted():
    c = datagen.corpus(3, 3000)
    text = c.docs["text"].to_numpy()
    for i in c.clone_ids:                 # a clone repeats an earlier doc
        assert any(text[j] == text[i] for j in range(i))
    _, first = np.unique(c.clean, return_index=True)
    assert len(c.clean) - len(first) == len(c.clone_ids)
    assert c.neardup_pairs
    for a, b in c.neardup_pairs:          # exactly one word differs
        wa, wb = c.clean[a].split(), c.clean[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1
    lines = [ln for t in text for ln in t.split("\n")]
    counts = {ln: lines.count(ln) for ln in c.boilerplate}
    assert min(counts.values()) >= 50     # every planted line is frequent
    kept = [ln for t in c.clean for ln in t.split("\n")]
    assert not set(kept) & set(c.boilerplate)


def test_auc_matches_pairwise_definition():
    r = np.random.default_rng(0)
    s = r.integers(0, 20, 300) / 10.0      # many ties
    y = (r.random(300) < 0.4).astype(float)
    pos, neg = s[y == 1], s[y == 0]
    pairwise = np.mean([1.0 if p > n else 0.5 if p == n else 0.0
                        for p in pos for n in neg])
    assert abs(auc(s, y) - pairwise) < 1e-12


def test_query_targets_are_indexed_docs():
    d = datagen.retrieval(7, 300)
    q, want = datagen.queries(7, d, [250, 300], 8)
    assert len(q) == 16 and (want[:8] < 250).all() and (want < 300).all()


def test_metric_is_sum_of_part_medians():
    rec = trace.Recorder(trace.Tracer(None, enabled=False))
    for x in (1.0, 5.0, 2.0):
        rec.time("fit_s", "a", lambda: None)
        rec.samples["fit_s:a"][-1] = x
    rec.samples["fit_s:b"] = [0.5]
    rec.samples["request_p50_ms:c"] = [0.02, 0.01]
    assert rec.metrics() == {"fit_s": 2.5, "request_p50_ms": 15.0}


def test_rss_covers_child_processes():
    child = subprocess.Popen([sys.executable, "-c",
                              "b = bytearray(64 << 20); input()"],
                             stdin=subprocess.PIPE)
    try:
        import time
        time.sleep(1.0)
        assert trace.tree_rss_kb(os.getpid()) > \
            trace._rss_kb(os.getpid()) + (60 << 10)
    finally:
        child.stdin.close()
        child.wait(timeout=10)


def test_interval_union():
    assert trace._union([(0, 10), (5, 15), (20, 25), (24, 24)]) == 20
    assert trace._union([]) == 0


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == \
        trace.layer_metric_names()
    assert {w["name"] for w in bench["workloads"]} == set(trace.WORKLOADS)


def test_tracer_spans_nest_with_unique_tags():
    class FakeSc:
        def __init__(self):
            self.tags = set()

        def addJobTag(self, t):
            self.tags.add(t)

        def removeJobTag(self, t):
            self.tags.discard(t)
    sc = FakeSc()
    tr = trace.Tracer(sc, enabled=True)
    with tr.span("pipeline.fit"):
        with tr.span("feature.fit"):
            with tr.span("feature.fit"):    # re-entrant: same span
                inner = set(sc.tags)
        outer = set(sc.tags)
    assert len(inner) == 1 and len(outer) == 1 and inner != outer
    assert not sc.tags
    ids = [s["id"] for s in tr.spans]
    assert len(ids) == len(set(ids)) == 2
    child = next(s for s in tr.spans if s["name"] == "feature.fit")
    assert child["parent"] == next(s["id"] for s in tr.spans
                                   if s["name"] == "pipeline.fit")


@pytest.mark.parametrize("workload,traced", [
    ("tabular_train", 0), ("corpus_retrieval", 1)])
def test_smoke_run(workload, traced):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--trace", str(traced),
         "--size", "smoke"], cwd=ROOT, capture_output=True, text=True,
        timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = trace.layer_metric_names() if traced else list(END_TO_END)
    assert list(result["metrics"]) == want
