"""Ranking / retrieval evaluation: recall@k, precision@k, MRR, nDCG@k.

The measurement counterpart of the retrieval operators (Bm25Retriever,
the ANN join family): given a ranked prediction table and a graded
relevance truth table, per-query quality metrics — fully relational, so
the whole evaluation is two joins and two aggregations regardless of
corpus size (public metric definitions; nDCG per Järvelin & Kekäläinen
2002, linear gain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..param import IntParam, ParamValidators, StringParam


class RankingEvaluator(AlgoOperator):
    """``transform(predictions, truth)`` → one row per query:
    ``(query col, n_relevant, hits, recall, precision, mrr, ndcg)``.

    - ``predictions``: (queryIdCol, docIdCol, rankCol) — rank 1-based,
      ≤ k rows per query (e.g. Bm25Retriever / IVF search output).
    - ``truth``: (queryIdCol, docIdCol, relevanceCol) — graded ≥ 0;
      rows with relevance > 0 are the relevant set.

    Metrics at cut ``k``: recall = hits / |relevant|; precision =
    hits / k; MRR = 1 / first relevant rank (0 when none); nDCG =
    DCG / IDCG with linear gain rel / log2(rank + 1), IDCG over the
    truth's own top-k (relevance desc, doc id asc — a TOTAL order, so
    any engine computes the identical ideal ranking).

    Plan: predictions ⋈ truth on (query, doc) — both sides are
    query-result-sized, not corpus-sized; one groupBy(query) for
    DCG/hits/MRR; IDCG from the truth side's exact top-k; a
    final broadcast-sized join stitches the per-query scalars.  Queries
    with no relevant docs report recall/mrr/ndcg = 0 (not null), and a
    query present only in the TRUTH (the retriever returned nothing for
    it — e.g. no term matched) still emits a zero row rather than
    silently vanishing — dropping it would overstate every macro
    average, the exact failure an IR evaluator exists to expose.
    """

    queryIdCol = StringParam("queryIdCol", "Query id column.", "query_id")
    docIdCol = StringParam("docIdCol", "Document id column.", "doc_id")
    rankCol = StringParam("rankCol", "1-based rank column.", "rank")
    relevanceCol = StringParam("relevanceCol", "Graded relevance column.",
                               "relevance")
    k = IntParam("k", "Evaluation cut-off.", 10, ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        preds, truth = inputs
        qid, did = self.get_("queryIdCol"), self.get_("docIdCol")
        rnk, rel = self.get_("rankCol"), self.get_("relevanceCol")
        k = int(self.get_("k"))

        p = preds.filter(F.col(rnk) <= k).select(qid, did, rnk)
        t = truth.filter(F.col(rel) > 0).select(
            qid, did, F.col(rel).cast("double").alias("__rel__"))

        joined = p.join(t, [qid, did], "left")
        log2 = F.log(F.lit(2.0))
        dcg_term = F.when(F.col("__rel__").isNotNull(),
                          F.col("__rel__")
                          / (F.log(F.col(rnk).cast("double") + 1.0) / log2)) \
            .otherwise(0.0)
        per_q = (joined.groupBy(qid).agg(
            F.sum(dcg_term).alias("dcg"),
            F.count("__rel__").alias("hits"),
            F.min(F.when(F.col("__rel__").isNotNull(), F.col(rnk)))
             .alias("first_rel")))

        # ideal DCG from the truth's own top-k (total order: relevance
        # desc, doc id asc)
        from ..common.dataflow import top_k_per_key
        ideal = top_k_per_key(
            t, [qid], [F.col("__rel__").desc(), F.col(did)], k,
            rank_col="__irn__")
        idcg = (ideal.withColumn(
            "__iterm__",
            F.col("__rel__") / (F.log(F.col("__irn__").cast("double") + 1.0)
                                / log2))
            .groupBy(qid).agg(F.sum("__iterm__").alias("idcg"),
                              F.count(F.lit(1)).alias("__nk__")))
        n_rel = t.groupBy(qid).agg(F.count(F.lit(1)).alias("n_relevant"))

        qids = (p.select(qid).union(t.select(qid))).distinct()
        out = (qids
               .join(per_q, qid, "left")
               .join(n_rel, qid, "left")
               .join(idcg.select(qid, "idcg"), qid, "left")
               .select(
                   F.col(qid),
                   F.coalesce("n_relevant", F.lit(0)).alias("n_relevant"),
                   F.coalesce("hits", F.lit(0)).alias("hits"),
                   F.when(F.coalesce("n_relevant", F.lit(0)) > 0,
                          F.coalesce("hits", F.lit(0))
                          / F.col("n_relevant"))
                    .otherwise(0.0).alias("recall"),
                   (F.coalesce("hits", F.lit(0)) / float(k))
                    .alias("precision"),
                   F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0))
                    .alias("mrr"),
                   F.when((F.coalesce("idcg", F.lit(0.0)) > 0)
                          & F.col("dcg").isNotNull(),
                          F.col("dcg") / F.col("idcg"))
                    .otherwise(0.0).alias("ndcg")))
        return [out]


class ReciprocalRankFusion(AlgoOperator):
    """Hybrid-retrieval rank fusion (RRF, Cormack et al. 2009): combine
    N ranked lists — e.g. a BM25 lexical run and an embedding-ANN run —
    into one ranking per query by ``score(d) = Σ_runs 1 / (rrfK +
    rank_run(d))``.  The standard RAG hybrid-search combiner: it needs
    no score calibration between runs (ranks only), and ``rrfK`` (60 in
    the paper) damps the head so one run cannot dominate.

    ``transform(run1, run2, ...)`` — each input carries (queryIdCol,
    docIdCol, rankCol); output is ``(query, doc, rrf, rank)`` cut at
    ``k`` with the deterministic total order (rrf desc, doc asc).
    ``scoreRounding`` snaps the summed reciprocals so cross-partition
    accumulation-order ulps cannot flip ties between engines (the
    Bm25Retriever convention).

    Plan: union of run outputs (already query-result-sized, NOT
    corpus-sized) → one groupBy(query, doc) partial-aggregated sum →
    exact top-k per query.  Scale is driven by Σ|runs| = queries
    × k × runs rows regardless of corpus size.
    """

    queryIdCol = StringParam("queryIdCol", "Query id column.", "query_id")
    docIdCol = StringParam("docIdCol", "Document id column.", "doc_id")
    rankCol = StringParam("rankCol", "1-based rank column.", "rank")
    rrfK = IntParam("rrfK", "RRF damping constant.", 60,
                    ParamValidators.gt(0))
    k = IntParam("k", "Results per query after fusion.", 10,
                 ParamValidators.gt(0))
    scoreRounding = IntParam("scoreRounding",
                             "Decimal places for the fused score.", 9,
                             ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        if len(inputs) < 2:
            raise ValueError("ReciprocalRankFusion expects >= 2 run tables")
        q, d, r = (self.get_("queryIdCol"), self.get_("docIdCol"),
                   self.get_("rankCol"))
        runs = [df.select(F.col(q), F.col(d), F.col(r)) for df in inputs]
        u = runs[0]
        for nxt in runs[1:]:
            u = u.unionByName(nxt)
        contrib = F.lit(1.0) / (F.lit(self.get_("rrfK")) + F.col(r))
        scores = (u.groupBy(q, d)
                  .agg(F.round(F.sum(contrib), self.get_("scoreRounding"))
                       .alias("rrf")))
        from ..common.dataflow import top_k_per_key
        out = top_k_per_key(scores, [q],
                            [F.col("rrf").desc(), F.col(d).asc()],
                            self.get_("k"), rank_col="rank")
        return [out]
