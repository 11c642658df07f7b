"""Bm25Retriever vs hand-computed BM25 and vs Bm25Scorer parity."""

import math
import re

import pytest
from pyspark.sql import functions as F

from flink_ml_spark.llmdata import Bm25Retriever, Bm25Scorer


@pytest.fixture()
def corpus(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "apple apple apple durian"),
        (3, "cherry cherry banana banana"),
        (4, "elderberry"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _bm25(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def test_retriever_hand_computed(spark, corpus):
    qs = spark.createDataFrame([(100, "apple cherry")],
                               "query_id bigint, query_text string")
    out = Bm25Retriever(k=10).transform(corpus, qs)[0].collect()
    n, avgdl = 5, (3 + 2 + 4 + 4 + 1) / 5.0
    # df: apple in docs {0,2} → 2; cherry in {1,3} → 2
    expect = {
        0: _bm25(2, 2, n, 3, avgdl),   # apple tf2
        1: _bm25(1, 2, n, 2, avgdl),   # cherry tf1 (banana not queried)
        2: _bm25(3, 2, n, 4, avgdl),   # apple tf3
        3: _bm25(2, 2, n, 4, avgdl),   # cherry tf2
    }
    got = {r["doc_id"]: r["score"] for r in out}
    assert set(got) == set(expect)  # doc 4 shares no term
    for d, s in expect.items():
        assert got[d] == pytest.approx(s, abs=1e-12)
    # ranks follow score desc, doc_id asc
    order = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    truth = sorted(expect, key=lambda d: (-expect[d], d))
    assert order == truth


def test_retriever_multi_query_topk(spark, corpus):
    qs = spark.createDataFrame(
        [(1, "apple"), (2, "banana cherry"), (3, "zzz_nohit")],
        "query_id bigint, query_text string")
    out = Bm25Retriever(k=2).transform(corpus, qs)[0].collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) <= 2 for v in per_q.values())
    assert 3 not in per_q  # no shared term → no rows
    assert {r["rank"] for r in per_q[1]} == {1, 2}


def test_retriever_parity_with_scorer(spark, corpus):
    """The retriever's scores equal Bm25Scorer's corpus scoring for the
    same term set (same N/avgdl/df definitions)."""
    terms = ["banana", "durian"]
    qs = spark.createDataFrame([(9, " ".join(terms))],
                               "query_id bigint, query_text string")
    got = {r["doc_id"]: r["score"] for r in
           Bm25Retriever(k=10).transform(corpus, qs)[0].collect()}
    scored = (Bm25Scorer(inputCol="text", outputCol="s", queryTerms=terms)
              .fit(corpus).transform(corpus)[0]
              .filter(F.col("s") > 0).collect())
    truth = {r["doc_id"]: r["s"] for r in scored}
    assert set(got) == set(truth)
    for d in truth:
        assert got[d] == pytest.approx(truth[d], abs=1e-12)


def test_retriever_transform_is_lazy_and_has_no_nested_loop_join(
        spark, corpus, jobs_of):
    """transform() launches no job: (N, avgdl) fold into the query as one
    scalar subquery of a struct, run once and reused for both fields,
    not as a cross join of a one-row relation (a nested-loop join)."""
    qs = spark.createDataFrame([(1, "apple cherry")],
                               "query_id bigint, query_text string")
    out, jobs = jobs_of("bm25_transform",
                        lambda: Bm25Retriever(k=10).transform(corpus, qs)[0])
    assert jobs == []
    out.collect()
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "NestedLoopJoin" not in plan
    assert len(set(re.findall(r"(?<!Reused)Subquery subquery#(\d+)", plan))) == 1
    assert "ReusedSubquery" in plan


def test_retriever_max_doc_freq(spark, corpus):
    """A term over the df cap is dropped from the index entirely."""
    qs = spark.createDataFrame([(1, "banana durian")],
                               "query_id bigint, query_text string")
    out = Bm25Retriever(k=10, maxDocFreq=2).transform(corpus, qs)[0] \
        .collect()
    # banana df=3 > 2 → dropped; only durian (df=1, doc 2) scores
    assert [r["doc_id"] for r in out] == [2]


def test_retriever_score_rounding_ties(spark):
    """Identical term profiles are TRUE ties broken by doc_id."""
    rows = [(i, "same same other%d" % i) for i in range(6)]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")
    qs = spark.createDataFrame([(1, "same")],
                               "query_id bigint, query_text string")
    out = Bm25Retriever(k=4, scoreRounding=6).transform(corpus, qs)[0] \
        .collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [0, 1, 2, 3]
    assert len({r["score"] for r in out}) == 1


def test_retriever_empty_corpus(spark):
    corpus = spark.createDataFrame([], "doc_id bigint, text string")
    qs = spark.createDataFrame([(1, "x")],
                               "query_id bigint, query_text string")
    out = Bm25Retriever().transform(corpus, qs)[0]
    assert out.count() == 0


def test_index_model_parity_and_persistence(spark, corpus, tmp_path):
    """Bm25Index fit → save → load → query == Bm25Retriever outputs."""
    from flink_ml_spark.llmdata import Bm25Index
    from flink_ml_spark.api import Stage
    qs = spark.createDataFrame(
        [(1, "apple cherry"), (2, "banana")],
        "query_id bigint, query_text string")
    want = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in Bm25Retriever(k=3).transform(corpus, qs)[0].collect())
    model = Bm25Index().fit(corpus)
    model.set_(k=3)
    got = sorted((r["query_id"], r["doc_id"], round(r["score"], 9),
                  r["rank"])
                 for r in model.transform(qs)[0].collect())
    assert got == want
    # persisted index: reload must answer without the corpus
    model.save(str(tmp_path / "idx"))
    m2 = Stage.load(spark, str(tmp_path / "idx"))
    m2.set_(k=3)
    got2 = sorted((r["query_id"], r["doc_id"], round(r["score"], 9),
                   r["rank"])
                  for r in m2.transform(qs)[0].collect())
    assert got2 == want
    # model-data round trip (stats row + postings + token stats)
    tables = model.get_model_data(spark)
    assert len(tables) == 3
    from flink_ml_spark.llmdata import Bm25IndexModel
    m3 = Bm25IndexModel(idCol="doc_id").set_model_data(*tables)
    m3.set_(k=3)
    got3 = sorted((r["query_id"], r["doc_id"], round(r["score"], 9),
                   r["rank"])
                  for r in m3.transform(qs)[0].collect())
    assert got3 == want


def test_index_static_impact_pruning(spark, corpus):
    """maxPostingsPerToken keeps the HIGHEST-IMPACT postings per token
    (tf + length norm, not raw tf), df stays the true corpus value."""
    from flink_ml_spark.llmdata import Bm25Index
    qs = spark.createDataFrame([(1, "apple")],
                               "query_id bigint, query_text string")
    # apple postings: doc0 (tf2, dl3), doc2 (tf3, dl4) — doc2's impact
    # 3/(3+norm(4)) beats doc0's 2/(2+norm(3)); P=1 keeps doc2 only
    m = Bm25Index(maxPostingsPerToken=1).fit(corpus)
    m.set_(k=10)
    out = m.transform(qs)[0].collect()
    assert [r["doc_id"] for r in out] == [2]
    # and the kept posting still scores with the TRUE df (=2), i.e.
    # identical to the unpruned score for that document
    full = {r["doc_id"]: r["score"] for r in
            Bm25Index().fit(corpus).set_(k=10).transform(qs)[0].collect()}
    assert out[0]["score"] == pytest.approx(full[2], abs=1e-12)


def test_retriever_persistence(spark, corpus, tmp_path):
    r = Bm25Retriever(k=3, maxDocFreq=10, scoreRounding=6)
    r.save(str(tmp_path / "r"))
    from flink_ml_spark.api import Stage
    r2 = Stage.load(spark, str(tmp_path / "r"))
    assert (r2.get_("k"), r2.get_("maxDocFreq"),
            r2.get_("scoreRounding")) == (3, 10, 6)


def test_bm25_index_incremental_update_equals_rebuild(spark):
    from flink_ml_spark.llmdata import Bm25Index
    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common filler word{i % 5}")
         for i in range(60)], "doc_id long, text string")
    old = docs.filter("doc_id % 4 != 0")
    new = docs.filter("doc_id % 4 = 0")
    queries = spark.createDataFrame(
        [(1, "tok1 common"), (2, "word3 tok2"), (3, "filler")],
        "query_id long, query_text string")

    full = Bm25Index().fit(docs)
    inc = Bm25Index().fit(old).update(new)
    # sufficient statistics merge exactly
    assert inc.model_data["numDocs"] == full.model_data["numDocs"] == 60
    assert abs(inc.model_data["avgDocLen"]
               - full.model_data["avgDocLen"]) < 1e-12
    # postings relations are identical as sets (tok, id, dl, tf) and
    # so are the vocab-sized token-stats (tok, df)
    a = {tuple(r) for r in full.postings.collect()}
    b = {tuple(r) for r in inc.postings.collect()}
    assert a == b
    sa = {tuple(r) for r in full.token_stats.collect()}
    sb = {tuple(r) for r in inc.token_stats.collect()}
    assert sa == sb
    # and the served rankings match row for row
    for m in (full, inc):
        m.set_(k=5, scoreRounding=6)
    ra = sorted(tuple(r) for r in full.transform(queries)[0].collect())
    rb = sorted(tuple(r) for r in inc.transform(queries)[0].collect())
    assert ra == rb


def test_bm25_index_update_from_empty_and_empty_batch(spark):
    from flink_ml_spark.llmdata import Bm25Index, Bm25IndexModel
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    empty = docs.where("doc_id < 0")
    # empty batch: no-op
    m = Bm25Index().fit(docs)
    before = {tuple(r) for r in m.postings.collect()}
    m.update(empty)
    assert {tuple(r) for r in m.postings.collect()} == before
    # building up from an empty fit via update equals a direct fit
    m0 = Bm25Index().fit(empty)
    assert m0.postings is None
    m0.update(docs)
    direct = Bm25Index().fit(docs)
    want = {tuple(r) for r in direct.postings.collect()}
    assert {tuple(r) for r in m0.postings.collect()} == want
    assert ({tuple(r) for r in m0.token_stats.collect()}
            == {tuple(r) for r in direct.token_stats.collect()})
    assert m0.model_data["numDocs"] == 2


def test_bm25_index_fit_propagates_textcol(spark):
    """fit() must hand textCol to the model: update() on a model fit
    with a non-default text column used to tokenize 'text' (ADVICE r04
    — silently indexing the wrong column)."""
    from flink_ml_spark.llmdata import Bm25Index
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} common body", "DECOY DECOY")
         for i in range(20)], "doc_id long, body string, text string")
    full = Bm25Index(textCol="body").fit(docs)
    inc = (Bm25Index(textCol="body").fit(docs.filter("doc_id % 2 = 0"))
           .update(docs.filter("doc_id % 2 = 1")))
    assert inc.get_("textCol") == "body"
    a = {tuple(r) for r in full.postings.collect()}
    b = {tuple(r) for r in inc.postings.collect()}
    assert a == b  # no 'DECOY' tokens: update used body, not text


def test_bm25_index_update_rejects_pruned(spark):
    """A model fit with pruning records the fact and update() raises
    (ADVICE r04: the no-pruning contract was documented but unenforced
    — a violating update silently produced wrong df/idf)."""
    import pytest
    from flink_ml_spark.llmdata import Bm25Index
    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} common") for i in range(20)],
        "doc_id long, text string")
    m = Bm25Index(maxDocFreq=10).fit(docs)
    assert m.model_data["pruned"] is True
    with pytest.raises(ValueError, match="pruned|maxDocFreq"):
        m.update(docs)
    # unpruned fit records pruned=False and still updates fine
    m2 = Bm25Index().fit(docs.filter("doc_id % 2 = 0"))
    assert m2.model_data["pruned"] is False
    m2.update(docs.filter("doc_id % 2 = 1"))
    assert m2.model_data["numDocs"] == 20


def test_index_legacy_layout_and_empty_roundtrip(spark, corpus, tmp_path):
    """Back-compat: an index directory WITHOUT the tokstats parquet (the
    pre-normalized on-disk format) loads by rebuilding token stats from
    the postings; an empty index round-trips its stats-only model
    data."""
    import shutil
    from flink_ml_spark.api import Stage
    from flink_ml_spark.llmdata import Bm25Index, Bm25IndexModel
    qs = spark.createDataFrame([(1, "apple cherry")],
                               "query_id bigint, query_text string")
    model = Bm25Index().fit(corpus)
    model.set_(k=3)
    want = sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                  for r in model.transform(qs)[0].collect())
    model.save(str(tmp_path / "idx"))
    shutil.rmtree(str(tmp_path / "idx" / "tokstats"))  # legacy layout
    m2 = Stage.load(spark, str(tmp_path / "idx"))
    m2.set_(k=3)
    got = sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                 for r in m2.transform(qs)[0].collect())
    assert got == want
    # empty-corpus index: get_model_data returns the stats table only
    # and set_model_data must accept that 1-tuple
    empty = Bm25Index().fit(spark.createDataFrame(
        [], "doc_id bigint, text string"))
    tables = empty.get_model_data(spark)
    assert len(tables) == 1
    Bm25IndexModel(idCol="doc_id").set_model_data(*tables)
