"""Similarity search over embedding columns (array<float/double>).

North-star extension ops (BASELINE.json): brute-force cosine top-k as the
exact baseline; LSH-bucketed (random hyperplane) and IVF (coarse-quantizer)
variants as the 100 TB scale path.  All JVM-side expressions — the dot
products are zip_with/aggregate folds; no Python in the data path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..api import AlgoOperator, Estimator, Model, Transformer
from ..common import sqltext as S, vector as V
from ..param import (FloatParam, HasDistanceMeasure, HasInputCol,
                     HasOutputCol, HasSeed, IntParam, ParamValidators,
                     StringParam)


def _norm(v: str, dim: int | None, alias: str) -> Column:
    """The 2-norm of array column ``v`` as ``alias``, one expression."""
    return F.expr(f"sqrt({V.sq_norm_fixed(v, dim)}) AS {S.name(alias)}")


def _cosine(a: str, b: str, na: str, nb: str, dim: int | None) -> Column:
    """Cosine of array columns ``a``, ``b`` given their norm columns."""
    return F.expr(f"{V.dot_fixed(a, b, dim)} / ({S.name(na)} * {S.name(nb)})")


class BruteForceKNNJoin(AlgoOperator, HasSeed):
    """transform(queries, corpus) -> top-k cosine neighbors per query.

    Plan: broadcast the (small) query side, cross-join against the corpus,
    rank per query with a window — at scale the corpus stays partitioned
    and only k rows per query survive the per-partition rank (AQE prunes
    via the window's partial top-k)."""

    queryIdCol = StringParam("queryIdCol", "Query id column.", "query_id")
    corpusIdCol = StringParam("corpusIdCol", "Corpus id column.", "corpus_id")
    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    k = IntParam("k", "Neighbors per query.", 10, ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        queries, corpus = inputs
        qid, cid, vc = self.get_("queryIdCol"), self.get_("corpusIdCol"), self.get_("vecCol")
        # norms once per side BEFORE the cross join, unrolled codegen dot
        # per candidate (bit-identical summation order to the HOF fold) —
        # the cross join emits |q|×|c| rows, so per-candidate interpreted
        # lambdas dominate everything else in this operator
        probe = corpus.select(F.col(vc)).filter(F.col(vc).isNotNull()).first()
        dim = len(probe[0]) if probe is not None else None
        qv = F.col(vc).cast("array<double>")
        # two-step select: unrolled terms must index a materialized column
        # ATTRIBUTE — indexing the cast expression inlines the whole array
        # cast per term, overflowing janino's method limit (codegen then
        # silently falls back to interpreted, worse than the HOF)
        q = queries.select(F.col(qid), qv.alias("qv")).select(
            qid, "qv", _norm("qv", dim, "__qn__"))
        c = corpus.select(F.col(cid), qv.alias("cv")).select(
            cid, "cv", _norm("cv", dim, "__cn__"))
        joined = c.crossJoin(F.broadcast(q))
        cos = _cosine("qv", "cv", "__qn__", "__cn__", dim)
        scored = joined.withColumn("cosine", cos)
        # the per-query candidate set is the whole corpus here; the
        # partial window-group limit keeps k per query per map partition
        # before the shuffle
        from ..common.dataflow import top_k_per_key
        return [top_k_per_key(scored, [qid], [F.desc("cosine"), F.asc(cid)],
                              self.get_("k"), rank_col="rank")
                .select(qid, cid, "cosine", "rank")]


class RandomHyperplaneLSH(Estimator, HasSeed):
    """Fit draws ``numPlanes`` random hyperplanes; model buckets vectors by
    sign pattern — the LSH-bucketed ANN scale path (bucket-join replaces
    the cross-join; recall traded for a numPlanes-controlled bucket size).
    """

    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    outputCol = StringParam("outputCol", "Bucket column.", "bucket")
    numPlanes = IntParam("numPlanes", "Hyperplanes (bucket bits).", 8,
                         ParamValidators.gt(0))
    dim = IntParam("dim", "Embedding dimension (inferred if None).", None)

    def fit(self, *inputs: DataFrame) -> "RandomHyperplaneLSHModel":
        (df,) = inputs
        vc = self.get_("vecCol")
        dim = self.get_("dim")
        if dim is None:
            probe = df.select(vc).filter(F.col(vc).isNotNull()).first()
            if probe is None:
                raise ValueError(
                    "cannot infer the embedding dimension from an empty/"
                    "all-null corpus; set dim explicitly")
            dim = len(probe[0])
        rng = np.random.RandomState(self.get_("seed") or 0)
        planes = rng.randn(self.get_("numPlanes"), dim)
        model = RandomHyperplaneLSHModel()
        model.set_(vecCol=vc, outputCol=self.get_("outputCol"))
        model.model_data = {"planes": planes.tolist()}
        return model


def hyperplane_buckets_udf(plane_sets: list[np.ndarray]):
    """Arrow-vectorized sign-bucket computation for one or more hyperplane
    tables: ONE (batch × dim) @ (dim × Σplanes) gemm per Arrow batch,
    returning ``array<long>`` of per-table bucket ids.

    Why not expressions: a per-plane HOF dot runs numPlanes × dim
    interpreted lambda evals per row, and the unrolled codegen form puts
    numPlanes × dim terms into ONE expression, which overflows janino's
    64 KB method limit at production dims (observed at 12 planes × 64
    dims) and silently falls back to interpreted — the FeatureHasher
    precedent: when both expression forms lose, one vectorized Arrow
    crossing wins.  Null or wrong-length vectors keep the expression
    semantics (every sign test fails → bucket 0)."""
    from pyspark.sql.functions import pandas_udf

    P = np.vstack(plane_sets).astype(np.float64)          # (Σp, dim)
    dim = P.shape[1]
    sizes = [len(s) for s in plane_sets]
    offs = np.cumsum([0] + sizes)
    weights = [(1 << np.arange(n, dtype=np.int64)) for n in sizes]

    @pandas_udf("array<long>")
    def buckets(vs):
        import pandas as pd
        n = len(vs)
        M = np.zeros((n, dim), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for i, x in enumerate(vs):
            if x is not None and len(x) == dim:
                M[i] = x
                ok[i] = True
        signs = (M @ P.T) >= 0                            # (n, Σp)
        signs[~ok] = False
        per_table = np.column_stack([
            signs[:, offs[t]:offs[t + 1]].astype(np.int64) @ weights[t]
            for t in range(len(sizes))])                  # (n, T)
        return pd.Series(list(per_table))

    return buckets


class RandomHyperplaneLSHModel(Model):
    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    outputCol = StringParam("outputCol", "Bucket column.", "bucket")

    def _transform(self, df: DataFrame) -> DataFrame:
        planes = np.array(self.model_data["planes"])
        udf = hyperplane_buckets_udf([planes])
        v = F.col(self.get_("vecCol")).cast("array<double>")
        return df.withColumn(self.get_("outputCol"),
                             udf(v).getItem(0))


class IVFIndex(Estimator, HasSeed, HasDistanceMeasure):
    """IVF coarse quantizer: KMeans the corpus into ``nlist`` cells; the
    model assigns a cell id — queries probe ``nprobe`` nearest cells and
    rank only those partitions (classic IVF-Flat)."""

    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    cellCol = StringParam("cellCol", "Cell id column.", "cell")
    nlist = IntParam(
        "nlist",
        "Number of IVF cells.  Probe cost is ~queries·nprobe·(n/nlist) "
        "and fit cost ~n·nlist, so the classic balance is nlist ≈ √n — "
        "a FIXED nlist makes per-cell scan size grow linearly with the "
        "corpus.  None derives √n clamped to [16, 4096] at the cost of "
        "one count() job.", 16,
        lambda v: v is None or v > 1)
    maxIter = IntParam("maxIter", "KMeans iterations.", 5, ParamValidators.gt(0))

    def fit(self, *inputs: DataFrame) -> "IVFIndexModel":
        from ..clustering import KMeans
        (df,) = inputs
        vc = self.get_("vecCol")
        data = df.select(F.col(vc).cast("array<double>").alias("__v__"))
        nlist = self.get_("nlist")
        if nlist is None:
            nlist = max(16, min(4096, int(data.count() ** 0.5)))
        km = KMeans(featuresCol="__v__", predictionCol="__c__",
                    k=nlist, maxIter=self.get_("maxIter"),
                    initMode="first_distinct",
                    distanceMeasure=self.get_("distanceMeasure")).fit(data)
        model = IVFIndexModel()
        model.set_(vecCol=vc, cellCol=self.get_("cellCol"))
        model.set(IVFIndexModel.nprobe, 2)
        model.model_data = {"centroids": km.model_data["centroids"],
                            "distanceMeasure": self.get_("distanceMeasure")}
        return model


class IVFIndexModel(Model):
    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    cellCol = StringParam("cellCol", "Cell id column.", "cell")
    nprobe = IntParam("nprobe", "Cells probed per query.", 2, ParamValidators.gt(0))

    def _transform(self, df: DataFrame) -> DataFrame:
        from ..common.distance import closest_centroid_expr
        centers = np.array(self.model_data["centroids"])
        measure = self.model_data["distanceMeasure"]
        v = F.col(self.get_("vecCol")).cast("array<double>")
        k, dim = centers.shape
        if k * dim < 256:
            # narrow: unrolled literal distances stay in codegen
            cid = closest_centroid_expr(v, centers, measure)
            return df.withColumn(self.get_("cellCol"), cid)
        # wide: the expression form degrades to k interpreted HOF folds
        # per row (k × dim lambda evals — measured dominating the IVF
        # probe at 500k × 32 cells); assign via one numpy gemm per Arrow
        # batch instead — the same regime split KMeans' Lloyd rounds use.
        # Ties: np.argmin picks the lowest cell id, matching the
        # expression's array_position-of-min semantics.
        from pyspark.sql.functions import pandas_udf
        from ..common.distance import distance_np

        @pandas_udf("int")
        def assign(vs):
            import pandas as pd
            n = len(vs)
            M = np.zeros((n, dim), dtype=np.float64)
            ok = np.zeros(n, dtype=bool)
            for i, x in enumerate(vs):
                if x is not None and len(x) == dim:
                    M[i] = x
                    ok[i] = True
            out = np.full(n, None, dtype=object)
            if ok.any():
                d = distance_np(M[ok], centers, measure)
                out[ok] = d.argmin(axis=1).astype(np.int32)
            return pd.Series(out)

        return df.withColumn(self.get_("cellCol"), assign(v))

    def search(self, queries: DataFrame, corpus_indexed: DataFrame,
               query_id: str, corpus_id: str, k: int,
               codes_col: str | None = None, rerank: int = 0,
               carry_query_cols: tuple = (), carry_corpus_cols: tuple = (),
               candidate_filter=None) -> DataFrame:
        """ANN search: probe nprobe nearest cells per query, rank within.

        ``codes_col`` switches to the IVF-PQ-style scale path: the corpus
        side of the probe join carries only ``EmbeddingQuantizer`` int8
        codes (¼ the bytes of float32, ⅛ of double — at 100 TB the probe
        shuffle drops proportionally) and candidates are ranked on the
        lazily-dequantized codes.  ``rerank > 0`` additionally re-scores
        the top-``rerank`` quantized candidates per query against the
        TRUE vectors (joined back by id, so full-precision floats never
        ride the wide candidate join) — the classic coarse-rank /
        exact-rerank ANN shape."""
        from ..common.distance import distance_np
        centers = np.array(self.model_data["centroids"])
        vc, cc = self.get_("vecCol"), self.get_("cellCol")
        nprobe = self.get_("nprobe")
        # per-query probe cells (expression over literal centroids: top-
        # nprobe closest cells by the same measure)
        measure = self.model_data["distanceMeasure"]
        from ..common.distance import distance_expr
        v = F.col(vc).cast("array<double>")
        dim = centers.shape[1] if centers.ndim == 2 else None
        if len(centers) * (dim or 0) < 256:
            # narrow: literal-distance expressions stay in codegen
            dists = F.array(*[distance_expr(v, c, measure) for c in centers])
            # cells = indices of the nprobe smallest distances
            idx_seq = F.sequence(F.lit(0), F.lit(len(centers) - 1))
            pairs = F.transform(idx_seq, lambda i: F.struct(
                F.element_at(dists, i + 1).alias("d"), i.alias("i")))
            probes = F.slice(F.array_sort(pairs), 1, nprobe)
            probe_cells = F.transform(probes, lambda p: p["i"])
        else:
            # wide (the √n-cells production regime): the literal form is
            # k × dim interpreted evals per row PLUS an O(k·dim)-node
            # expression tree the analyzer must chew — at 707 cells the
            # plan work alone dominated the whole probe (measured: the
            # 500k IVF probe went 210s → 586s when auto-nlist raised the
            # cell count, all of it here).  Rank cells with the same
            # numpy-gemm regime _transform uses; stable argsort ties →
            # lowest cell id, matching array_sort over (d, i) structs.
            from pyspark.sql.functions import pandas_udf
            from ..common.distance import distance_np
            ctr, meas, npb, d_ = centers, measure, nprobe, dim

            @pandas_udf("array<int>")
            def probe_cells_udf(vs):
                import pandas as pd
                n = len(vs)
                M = np.zeros((n, d_), dtype=np.float64)
                ok = np.zeros(n, dtype=bool)
                for i, x in enumerate(vs):
                    if x is not None and len(x) == d_:
                        M[i] = x
                        ok[i] = True
                out = np.full(n, None, dtype=object)
                if ok.any():
                    dm = distance_np(M[ok], ctr, meas)
                    top = np.argsort(dm, axis=1, kind="stable")[:, :npb]
                    top = top.astype(np.int32)
                    for r, row in zip(np.nonzero(ok)[0], top):
                        out[r] = row
                return pd.Series(out)

            probe_cells = probe_cells_udf(v)
        # norms are computed ONCE per query/corpus ROW before the probe
        # join (the join emits |cell| × nprobe candidate rows — recomputing
        # a norm per candidate costs |candidates| × dim interpreted lambda
        # evals), and the candidate cosine is the unrolled codegen dot;
        # summation order matches the HOF fold so values are bit-identical
        q = queries.select(
            F.col(query_id), v.alias("qv"),
            F.explode(probe_cells).alias(cc),
            *[F.col(x) for x in carry_query_cols]
        ).select(query_id, "qv", cc,
                 _norm("qv", dim, "__qn__"),
                 *[F.col(x) for x in carry_query_cols])
        from ..common.dataflow import top_k_per_key
        if codes_col is None:
            cv = F.col(vc).cast("array<double>")
            c = corpus_indexed.select(
                F.col(corpus_id), F.col(cc), cv.alias("cv"),
                *[F.col(x) for x in carry_corpus_cols]).select(
                corpus_id, cc, "cv",
                _norm("cv", dim, "__cn__"),
                *[F.col(x) for x in carry_corpus_cols])
            joined = c.join(F.broadcast(q), cc)
            if candidate_filter is not None:
                # predicate over carried columns, applied BEFORE the top-k
                # (post-rank filtering would under-fill k) and before any
                # cosine arithmetic runs on the dropped candidates
                joined = joined.filter(candidate_filter)
            cos = _cosine("qv", "cv", "__qn__", "__cn__", dim)
            return (top_k_per_key(joined.withColumn("cosine", cos), [query_id],
                                  [F.desc("cosine"), F.asc(corpus_id)], k,
                                  rank_col="rank")
                    .select(query_id, corpus_id, "cosine", "rank"))
        if candidate_filter is not None or carry_query_cols or carry_corpus_cols:
            raise ValueError("candidate_filter/carry columns are only "
                             "supported on the float (codes_col=None) path")
        # quantized probe: candidates ranked on dequantized int8 codes;
        # dequantize runs once per CORPUS row (not per candidate), and the
        # candidate-side cosine is the unrolled dot over the materialized
        # dequantized array
        dv = EmbeddingQuantizer.dequantize(F.col(codes_col))
        c = corpus_indexed.select(
            F.col(corpus_id), F.col(cc), dv.alias("__dv__")).select(
            corpus_id, cc, "__dv__",
            _norm("__dv__", dim, "__dn__"))
        cos_q = _cosine("qv", "__dv__", "__qn__", "__dn__", dim)
        scored = c.join(F.broadcast(q), cc).withColumn("cosine_q", cos_q)
        if rerank <= 0:
            return (top_k_per_key(scored, [query_id],
                                  [F.desc("cosine_q"), F.asc(corpus_id)], k,
                                  rank_col="rank")
                    .select(query_id, corpus_id, "cosine_q", "rank"))
        cands = top_k_per_key(scored, [query_id],
                              [F.desc("cosine_q"), F.asc(corpus_id)], rerank,
                              rank_col="__crank__") \
            .select(query_id, corpus_id)
        # exact rerank: true vectors join the SMALL candidate set by id
        exact = (cands
                 .join(queries.select(
                     F.col(query_id), v.alias("qv")).select(
                     query_id, "qv",
                     _norm("qv", dim, "__qn2__")), query_id)
                 .join(corpus_indexed.select(
                     F.col(corpus_id),
                     F.col(vc).cast("array<double>").alias("cv")).select(
                     corpus_id, "cv",
                     _norm("cv", dim, "__cn2__")), corpus_id))
        cos = _cosine("qv", "cv", "__qn2__", "__cn2__", dim)
        return (top_k_per_key(exact.withColumn("cosine", cos), [query_id],
                              [F.desc("cosine"), F.asc(corpus_id)], k,
                              rank_col="rank")
                .select(query_id, corpus_id, "cosine", "rank"))


class EmbeddingCosineDeduplicator(AlgoOperator, HasSeed):
    """Embedding near-dup pairs: cosine ≥ threshold.

    ``exact=1`` (small corpora): all-pairs cross join.
    ``exact=0`` (the 100 TB path): RandomHyperplaneLSH candidates —
    ``numTables`` independent hyperplane sign-buckets, pairs agreeing on
    any table's full bucket are candidates (bucket equi-join; recall
    grows with tables, bucket size shrinks with planes).  The bucket join
    carries ids only; vectors are joined back by id after the pair dedup,
    so the explode never multiplies the embedding payload."""

    idCol = StringParam("idCol", "Id column.", "id")
    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    threshold = FloatParam("threshold", "Cosine threshold.", 0.95)
    exact = IntParam("exact", "1 = exact cross-join (small corpora); "
                              "0 = hyperplane-LSH bucketed candidates.", 1)
    numTables = IntParam("numTables", "LSH tables (recall).", 4,
                         ParamValidators.gt(0))
    numPlanes = IntParam(
        "numPlanes",
        "Hyperplanes per table (bucket bits).  With FIXED planes the "
        "expected candidate count is ~n²·tables/2^planes — quadratic in "
        "corpus size — so planes must grow with log2(n).  None derives "
        "ceil(log2(n / 32)) clamped to [6, 24] (expected bucket size "
        "~32, constant per-bucket pair work at any scale) at the cost "
        "of one count() job.", 10,
        lambda v: v is None or v > 0)
    maxBucketDocFreq = IntParam(
        "maxBucketDocFreq",
        "LSH (table, bucket) groups over this document frequency are "
        "handled by hotBucketStrategy instead of the plain self-join "
        "(None = no special handling) — a df-D bucket alone contributes "
        "D² candidate rows (e.g. a mass cluster of near-identical "
        "embeddings landing in one sign bucket).", None)
    hotBucketStrategy = StringParam(
        "hotBucketStrategy",
        "'drop': exclude over-cap buckets (pairs may still surface "
        "through another table); 'block': blocked self-join spreads the "
        "hot bucket's pair generation over block-pair join groups — "
        "exact candidate recall, ~numBlocks× replication of hot rows "
        "(same machinery as MinHashLSHDeduplicator).", "drop",
        ParamValidators.in_array(["drop", "block"]))
    numBlocks = IntParam("numBlocks",
                         "Block count for hotBucketStrategy='block'.", 16,
                         ParamValidators.gt(0))
    signaturePrefilter = IntParam(
        "signaturePrefilter",
        "1 = gate candidate pairs on hyperplane sign-bit hamming INSIDE "
        "the bucket join, before the pair dedup and the full-vector "
        "verification join.  The per-table bucket values are already "
        "Goemans-Williamson sign bits (P[plane splits a pair] = θ/π), so "
        "packing ⌊63/planes⌋ tables' buckets into one long gives a B-bit "
        "signature whose pair hamming is Binomial(B, θ/π); the gate "
        "keeps pairs within mean + 3.5σ of the threshold's angle — "
        "random candidates (hamming ≈ B/2) die in codegen on 16 bytes "
        "instead of reaching the 2×dim×8-byte vector join (measured: the "
        "ONLY superlinear disk term at 5M docs).  Slightly lowers recall "
        "near the threshold (≲1e-3 at 3.5σ); 0 (default) = off.", 0)

    def _cosine_pairs(self, pairs: DataFrame, dim: int | None = None) -> DataFrame:
        # the pair relation carries per-side norms computed ONCE per id
        # (attached by _with_norm before the pair join) — recomputing a
        # norm per PAIR costs |pairs| × dim interpreted lambda evals; the
        # pair-side dot is the unrolled codegen form.  Summation order
        # matches the HOF fold, so cosine values are bit-identical to the
        # previous per-pair computation and oracle hashes don't move.
        cos = _cosine("va", "vb", "__na__", "__nb__", dim)
        return (pairs.withColumn("cosine", cos)
                .filter(F.col("cosine") >= self.get_("threshold"))
                .select("id_a", "id_b", "cosine"))

    @staticmethod
    def _with_norm(v: DataFrame, dim: int | None) -> DataFrame:
        return v.select("id", "v",
                        _norm("v", dim, "__n__"))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        idc = self.get_("idCol")
        v = df.select(F.col(idc).alias("id"),
                      F.col(self.get_("vecCol")).cast("array<double>").alias("v"))
        if self.get_("exact"):
            probe = v.select("v").filter(F.col("v").isNotNull()).first()
            dim = len(probe[0]) if probe is not None else None
            vn = self._with_norm(v, dim)
            a = vn.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                          F.col("__n__").alias("__na__"))
            b = vn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                          F.col("__n__").alias("__nb__"))
            return [self._cosine_pairs(
                a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")), dim)]
        # LSH candidates: one sign-bucket per table, all JVM-side
        seed = self.get_("seed") or 0
        probe = v.select("v").filter(F.col("v").isNotNull()).first()
        if probe is None:
            # empty (or all-null) corpus — a filter-gated pipeline stage
            # can legitimately pass zero rows; emit the empty pair
            # relation with the contract schema instead of crashing on
            # dimension inference.  Restrict to the non-null rows FIRST:
            # with N all-null rows the unrestricted cross join would plan
            # N^2 pair rows just to null-filter them (a runaway job at
            # scale); the non-null relation is provably empty here, so
            # the cross join is empty x empty
            nn = self._with_norm(v.filter(F.col("v").isNotNull()), None)
            a = nn.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                          F.col("__n__").alias("__na__"))
            b = nn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                          F.col("__n__").alias("__nb__"))
            return [self._cosine_pairs(
                a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")))]
        dim = len(probe[0])
        planes = self.get_("numPlanes")
        if planes is None:
            import math
            n = v.count()
            planes = max(6, min(24, math.ceil(math.log2(max(n, 2) / 32))))
        # all tables' buckets in ONE Arrow crossing: the corpus vector
        # ships to the Python worker once, not once per table
        plane_sets = []
        for t in range(self.get_("numTables")):
            m = RandomHyperplaneLSH(seed=seed + t, dim=dim,
                                    numPlanes=planes) \
                .set_(vecCol="v").fit(v)
            plane_sets.append(np.array(m.model_data["planes"]))
        udf = hyperplane_buckets_udf(plane_sets)
        vb = v.select("id", udf(F.col("v")).alias("__bk__"))
        pf_cols, ham_gate = [], None
        if self.get_("signaturePrefilter"):
            import math
            n_pack = max(1, min(int(self.get_("numTables")), 63 // planes))
            sig = F.element_at("__bk__", 1)
            for t in range(1, n_pack):
                sig = sig.bitwiseOR(
                    F.shiftleft(F.element_at("__bk__", t + 1), t * planes))
            vb = vb.withColumn("__sig__", sig)
            pf_cols = ["__sig__"]
            bits_used = n_pack * planes
            theta = math.acos(min(1.0, max(-1.0,
                                           self.get_("threshold")))) / math.pi
            mean, sd = bits_used * theta, math.sqrt(
                bits_used * theta * (1.0 - theta))
            ham_cap = min(bits_used, math.ceil(mean + 3.5 * sd))
            ham_gate = F.bit_count(
                F.col("__sa__").bitwiseXOR(F.col("__sb__"))) <= ham_cap
        # fixed-width (id, sig, t, b) checkpoint: the exploded relation
        # feeds the hot-key agg, the semi/anti splits AND both sides of
        # the self-join — without it the Arrow bucket UDF re-runs over
        # the full corpus once per consumer (the MinHash double-UDF
        # hazard; see PLANS.md)
        exploded = vb.select(
            "id", *pf_cols, F.posexplode("__bk__").alias("t", "b")) \
            .localCheckpoint(eager=False)
        cap = self.get_("maxBucketDocFreq")
        hot_cand = None
        if cap is not None:
            from .dedup import blocked_self_pairs
            hot_keys = (exploded.groupBy("t", "b")
                        .agg(F.count("*").alias("__df__"))
                        .filter(F.col("__df__") > cap).select("t", "b")
                        .localCheckpoint(eager=True))
            if self.get_("hotBucketStrategy") == "block":
                hot_cand = blocked_self_pairs(
                    exploded.join(hot_keys, ["t", "b"], "left_semi"),
                    ["t", "b"], int(self.get_("numBlocks")))
            exploded = exploded.join(hot_keys, ["t", "b"], "left_anti")
        ea = exploded.select(
            F.col("id").alias("id_a"), "t", "b",
            *[F.col(c).alias("__sa__") for c in pf_cols])
        eb = exploded.select(
            F.col("id").alias("id_b"), "t", "b",
            *[F.col(c).alias("__sb__") for c in pf_cols])
        cand_filter = F.col("id_a") < F.col("id_b")
        if ham_gate is not None:
            # the sign-bit gate runs INSIDE the candidate join — random
            # collisions never reach the dedup exchange or the vector join
            cand_filter = cand_filter & ham_gate
        cand = (ea.join(eb, ["t", "b"])
                .filter(cand_filter)
                .select("id_a", "id_b"))
        if hot_cand is not None:
            cand = cand.unionByName(hot_cand)
        cand = cand.dropDuplicates(["id_a", "id_b"])
        vn = self._with_norm(v, dim)
        pairs = (cand
                 .join(vn.select(F.col("id").alias("id_a"),
                                 F.col("v").alias("va"),
                                 F.col("__n__").alias("__na__")), "id_a")
                 .join(vn.select(F.col("id").alias("id_b"),
                                 F.col("v").alias("vb"),
                                 F.col("__n__").alias("__nb__")), "id_b"))
        return [self._cosine_pairs(pairs, dim)]


class SemanticDeduplicator(AlgoOperator, HasSeed, HasDistanceMeasure):
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540 — public): KMeans the embedding space into
    ``numClusters`` cells (via :class:`IVFIndex`'s deterministic coarse
    quantizer), then emit near-duplicate pairs (cosine ≥ ``threshold``)
    WITHIN each cell only.  The cluster pass turns O(n²) all-pairs into
    Σ|cell|² with the candidate self-join keyed on the learned cell id —
    ids-only through the join, vectors re-joined by id afterward, the
    same scale discipline as the hyperplane-LSH path but with
    data-adaptive buckets (hyperplanes cut space uniformly; KMeans cells
    follow the corpus density, so boilerplate-dense regions land in
    dedicated cells instead of flooding one random bucket)."""

    idCol = StringParam("idCol", "Id column.", "id")
    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    threshold = FloatParam("threshold", "Cosine threshold.", 0.95)
    numClusters = IntParam(
        "numClusters",
        "KMeans cells.  A FIXED cell count is a scale trap: the within-"
        "cell self-join costs Σ|cell|² ≈ n²/numClusters — quadratic in "
        "corpus size at constant cells.  None (default) derives ≈ √n "
        "(clamped [16, 4096], one count() job, mirroring IVFIndex.nlist) "
        "so expected per-cell pair work stays constant as n grows.",
        None, lambda v: v is None or v > 1)
    maxIter = IntParam("maxIter", "KMeans iterations.", 3,
                       ParamValidators.gt(0))
    maxCellSize = IntParam(
        "maxCellSize", "Cells with more members than this are EXCLUDED "
        "from pair generation.  None (default) derives 32 × the expected "
        "cell size ⌈n/numClusters⌉ — generous to real density skew but "
        "finite, so one degenerate cell (a boilerplate/zero-embedding "
        "spike) can cost at most (32·n/k)² pairs instead of n².  Pass an "
        "explicit int to override, or 0 to disable the cap entirely.  "
        "Same shape as maxShingleDocFreq / maxBandDocFreq on the "
        "text-dedup paths.  Exact duplicates should be collapsed by "
        "ExactDeduplicator UPSTREAM: identical vectors are inherently "
        "all-pairs and no bucketing scheme can sub-divide them.", None)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        idc = self.get_("idCol")
        v = df.select(F.col(idc).alias("id"),
                      F.col(self.get_("vecCol")).cast("array<double>").alias("v"))
        idx = IVFIndex(vecCol="v", cellCol="cell",
                       nlist=self.get_("numClusters"),
                       maxIter=self.get_("maxIter"),
                       distanceMeasure=self.get_("distanceMeasure"),
                       seed=self.get_("seed")).fit(v)
        # (id, cell) is 2 narrow columns — checkpoint it so the candidate
        # self-join doesn't re-run the Arrow assignment UDF on BOTH join
        # sides (no CSE across self-joins; the signature-relation rule
        # from the minhash/simhash deduplicators).  r04 measured the
        # re-execution at ~2× the whole operator's useful work.
        cells = idx.transform(v)[0].select("id", "cell") \
            .localCheckpoint(eager=True)
        cap = self.get_("maxCellSize")
        if cap is None:
            n = cells.count()  # cheap: reads the checkpointed blocks
            k = len(idx.model_data["centroids"])
            cap = 32 * -(-n // k) if n else 0
        if cap:
            sizes = cells.groupBy("cell").agg(F.count("*").alias("__n__"))
            keep = sizes.filter(F.col("__n__") <= cap).select("cell")
            cells = cells.join(F.broadcast(keep), "cell")
        a = cells.select(F.col("id").alias("id_a"), "cell")
        b = cells.select(F.col("id").alias("id_b"), "cell")
        cand = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
        # norms once per id, unrolled codegen dot per pair (HOF-order
        # summation — bit-identical values); dim from the fitted centroids
        dim = len(idx.model_data["centroids"][0])
        vn = v.select("id", "v",
                      _norm("v", dim, "__n__"))
        pairs = (cand
                 .join(vn.select(F.col("id").alias("id_a"),
                                 F.col("v").alias("va"),
                                 F.col("__n__").alias("__na__")), "id_a")
                 .join(vn.select(F.col("id").alias("id_b"),
                                 F.col("v").alias("vb"),
                                 F.col("__n__").alias("__nb__")), "id_b"))
        cos = _cosine("va", "vb", "__na__", "__nb__", dim)
        return [pairs.withColumn("cosine", cos)
                .filter(F.col("cosine") >= self.get_("threshold"))
                .select("id_a", "id_b", "cell", "cosine")]


class EmbeddingDriftProfiler(AlgoOperator, HasInputCol):
    """Embedding-space drift between two corpus snapshots — the vector
    counterpart of TokenDriftProfiler: per ``byCol`` group (label,
    domain, language...), compare the OLD vs NEW group centroid.
    ``transform(old, new)`` emits one row per group present on both
    sides: counts, cosine similarity of the two centroids (1.0 = the
    region of embedding space the group occupies hasn't moved), and the
    mean-L2-norm ratio new/old (magnitude drift — e.g. an upstream
    encoder change that rescales vectors shows up here even when the
    direction is unchanged).

    100 TB plan: per side ONE zero-shuffle ``mapInPandas`` partial pass
    (per partition × group: n, Σx, Σ‖x‖ — dim+2 doubles, the allReduce
    shape shared with PCAWhitener/covariance_partials); partials combine
    on the driver into groups × dim centroids, model-sized since group
    cardinality is small by construction.  No embedding ever shuffles.
    Null group keys are excluded (a null label is not a cohort).
    """

    byCol = StringParam("byCol", "Grouping column.", "label")

    def _side_partials(self, df: DataFrame) -> dict:
        import pandas as pd
        col, by = self.get_("inputCol"), self.get_("byCol")

        def partials(it):
            for pdf in it:
                if not len(pdf):
                    continue
                out = []
                for g, sub in pdf.groupby(by):
                    X = np.stack(sub[col].to_numpy())
                    out.append((g, len(X), X.sum(axis=0).tolist(),
                                float(np.linalg.norm(X, axis=1).sum())))
                yield pd.DataFrame(out, columns=[by, "n", "s", "nrm"])

        by_t = df.schema[by].dataType.simpleString()
        rows = (df.filter(F.col(by).isNotNull())
                .select(by, F.col(col).cast("array<double>").alias(col))
                .mapInPandas(partials,
                             f"{by} {by_t}, n long, s array<double>, "
                             "nrm double")
                .collect())
        agg: dict = {}
        for r in rows:
            n, s, nrm = agg.setdefault(r[by], [0, None, 0.0])
            sv = np.asarray(r["s"])
            agg[r[by]] = [n + r["n"], sv if s is None else s + sv,
                          nrm + r["nrm"]]
        return agg

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        old, new = inputs
        o, n = self._side_partials(old), self._side_partials(new)
        rows = []
        for g in sorted(set(o) & set(n), key=lambda x: (x is None, x)):
            n_o, s_o, nrm_o = o[g]
            n_n, s_n, nrm_n = n[g]
            c_o, c_n = s_o / n_o, s_n / n_n
            den = float(np.linalg.norm(c_o) * np.linalg.norm(c_n))
            cos = float(c_o @ c_n) / den if den > 0 else 0.0
            mean_nrm_o = nrm_o / n_o
            ratio = (nrm_n / n_n) / mean_nrm_o if mean_nrm_o > 0 else 0.0
            rows.append((g, n_o, n_n, cos, ratio))
        by = self.get_("byCol")
        by_t = old.schema[by].dataType.simpleString()
        return [old.sparkSession.createDataFrame(
            rows, f"{by} {by_t}, n_old long, n_new long, "
                  "centroid_cos double, norm_ratio double")]


def covariance_partials(df: DataFrame, col: str):
    """One-pass distributed (n, mean, covariance) of an array<double>
    column: per-partition Arrow partials (n, Σx, ΣxxT — dim and dim²
    doubles per partition) combined on the driver.  Shared by
    PCAWhitener.fit and the identity-covariance verification query."""

    def partials(it):
        import pandas as pd
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf[col].to_numpy())
            yield pd.DataFrame({
                "n": [len(X)],
                "s": [X.sum(axis=0).tolist()],
                "ss": [(X.T @ X).ravel().tolist()],
            })

    rows = df.select(F.col(col).cast("array<double>").alias(col)) \
        .mapInPandas(partials, "n long, s array<double>, ss array<double>") \
        .collect()
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("covariance needs at least 2 rows")
    s = np.sum([r["s"] for r in rows], axis=0)
    d = int(np.sqrt(len(rows[0]["ss"])))
    ss = np.sum([r["ss"] for r in rows], axis=0).reshape(d, d)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    return n, mean, cov


class PCAWhitener(Estimator, HasInputCol, HasOutputCol):
    """PCA whitening for embedding columns (public technique: Jégou &
    Chum 2012 — whitening before quantization/ANN evens the variance the
    coarse quantizer sees and improves PQ recall).

    fit = ONE pass: per-partition Arrow partials (n, Σx, ΣxxT — dim and
    dim² doubles per partition, the optimizer-stack allReduce shape)
    combine on the driver into the covariance, then an eigh on the
    dim×dim matrix (driver-local, model-sized).  The model carries mean
    and the whitening matrix W = V·diag(1/√λ); transform is one numpy
    matmul per Arrow batch — zero shuffle either phase.

    Rank deficiency (n ≤ dim, or constant dimensions): eigenvalues below
    ``eps`` × the largest are treated as null directions and their
    components are DROPPED (output coordinate = 0) rather than amplified
    by 1/√(≈0) into million-fold noise; the identity-covariance property
    then holds on the surviving components only.
    """

    eps = FloatParam("eps", "Relative eigenvalue floor.", 1e-9)

    def fit(self, *inputs: DataFrame) -> "PCAWhitenerModel":
        (df,) = inputs
        col = self.get_("inputCol")
        n, mean, cov = covariance_partials(df, col)
        eig, vec = np.linalg.eigh(cov)
        floor = max(float(eig.max()), 0.0) * self.get_("eps")
        inv_sqrt = np.where(eig > floor, 1.0 / np.sqrt(np.maximum(eig, 1e-300)),
                            0.0)
        w = vec @ np.diag(inv_sqrt)
        model = PCAWhitenerModel()
        model.set_(inputCol=col, outputCol=self.get_("outputCol"))
        model.model_data = {"mean": mean.tolist(),
                            "w": w.ravel().tolist(), "dim": len(mean)}
        return model


class PCAWhitenerModel(Model, HasInputCol, HasOutputCol):
    def _apply_np(self, X):
        d = self.model_data["dim"]
        mean = np.asarray(self.model_data["mean"])
        w = np.asarray(self.model_data["w"]).reshape(d, d)
        return (X - mean) @ w

    def _transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        apply_np = self._apply_np

        def whiten(vs):
            if not len(vs):
                return pd.Series([], dtype=object)
            out = apply_np(np.stack(vs.to_numpy()))
            return pd.Series(list(map(list, out)))

        whiten.__annotations__ = {"vs": pd.Series, "return": pd.Series}
        whiten = pandas_udf(whiten, "array<double>")
        src = F.col(self.get_("inputCol")).cast("array<double>")
        return df.withColumn(self.get_("outputCol"), whiten(src))

    def transform_local(self, pdf):
        out = pdf.copy()
        X = np.stack([np.asarray(v, dtype=float)
                      for v in pdf[self.get_("inputCol")]])
        out[self.get_("outputCol")] = list(map(list, self._apply_np(X)))
        return out


class EmbeddingQuantizer(Transformer, HasInputCol, HasOutputCol):
    """Symmetric per-row int8 (2..8 bit) quantization of an embedding
    column — the standard 4x memory/IO reduction for ANN corpora at scale
    (a 100 TB float32 embedding store becomes 25 TB of codes; IVF probe
    joins shuffle a quarter of the bytes).

    ``outputCol`` becomes ``struct<scale:double, codes:array<tinyint>>``
    with ``codes[i] = round(x[i]/scale)``, ``scale = max|x|/qmax``,
    ``qmax = 2^(bits-1)-1``.  Zero vectors quantize to scale=0, all-zero
    codes.  Pure codegen'd Column expressions — zero shuffles, no Python;
    ``dequantize`` folds back to ``array<double>`` lazily so downstream
    cosine/top-k plans compose without materializing floats.
    """

    bits = IntParam("bits", "Bit width incl. sign (2..8).", 8,
                    ParamValidators.in_range(2, 8))

    def _transform(self, df: DataFrame) -> DataFrame:
        x = F.col(self.get_("inputCol")).cast("array<double>")
        qmax = float(2 ** (self.get_("bits") - 1) - 1)
        scale = F.array_max(F.transform(x, F.abs)) / qmax
        codes = F.when(scale > 0,
                       F.transform(x, lambda v: F.round(v / scale)
                                   .cast("tinyint"))) \
            .otherwise(F.transform(x, lambda v: F.lit(0).cast("tinyint")))
        return df.withColumn(
            self.get_("outputCol"),
            F.struct(F.coalesce(scale, F.lit(0.0)).alias("scale"),
                     codes.alias("codes")))

    def transform_local(self, pdf):
        import numpy as np
        qmax = float(2 ** (self.get_("bits") - 1) - 1)
        rows = []
        for v in pdf[self.get_("inputCol")]:
            a = np.asarray(v, dtype=float)
            scale = float(np.abs(a).max()) / qmax if len(a) else 0.0
            # F.round is HALF_UP (away from zero); np.round is
            # half-to-even and would flip codes landing exactly on k+0.5
            q = a / scale if scale > 0 else None
            codes = ((np.sign(q) * np.floor(np.abs(q) + 0.5))
                     .astype(np.int8) if scale > 0
                     else np.zeros(len(a), dtype=np.int8))
            rows.append({"scale": scale, "codes": [int(c) for c in codes]})
        out = pdf.copy()
        out[self.get_("outputCol")] = rows
        return out

    @staticmethod
    def dequantize(quantized) -> Column:
        q = F.col(quantized) if isinstance(quantized, str) else quantized
        s = q["scale"]
        return F.transform(q["codes"], lambda c: c.cast("double") * s)


class HardNegativeMiner(AlgoOperator, HasSeed):
    """Hard-negative mining for contrastive / metric / retriever training:
    per anchor, the top-``k`` most-cosine-similar corpus items whose label
    (class / cluster / positive-set id) DIFFERS from the anchor's — the
    "similar but wrong" pairs that carry the training signal uniform
    negatives lack (ANCE, Xiong et al. 2021 mine exactly these from an
    ANN index over the corpus).

    Scale design: composes the IVF machinery — fit the coarse quantizer,
    assign cells once, probe ``nprobe`` cells per anchor with labels
    carried through the candidate join, and apply the label-mismatch
    predicate BEFORE the exact top-k, so filtering never
    under-fills k and excluded candidates never reach the cosine
    arithmetic.  Candidate volume = anchors · nprobe · (n/nlist), never
    anchors · corpus.

    ``transform(anchors, corpus)`` → ``(anchor id, corpus id, cosine,
    rank)``; both inputs need ``idCol`` + ``vecCol`` + ``labelCol``
    (corpus id column may differ via ``corpusIdCol``)."""

    idCol = StringParam("idCol", "Anchor id column.", "query_id")
    corpusIdCol = StringParam("corpusIdCol", "Corpus id column.", "corpus_id")
    vecCol = StringParam("vecCol", "Embedding column.", "embedding")
    labelCol = StringParam("labelCol", "Label column whose value must "
                           "DIFFER between anchor and negative.", "label")
    k = IntParam("k", "Hard negatives per anchor.", 5, ParamValidators.gt(0))
    nlist = IntParam("nlist", "IVF cells (None → √n, clamped).", None,
                     lambda v: v is None or v > 1)
    nprobe = IntParam("nprobe", "Cells probed per anchor.", 2,
                      ParamValidators.gt(0))
    maxIter = IntParam("maxIter", "Coarse-quantizer KMeans iterations.", 3,
                       ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        anchors, corpus = inputs
        vc, lc = self.get_("vecCol"), self.get_("labelCol")
        qid, cid = self.get_("idCol"), self.get_("corpusIdCol")
        idx = IVFIndex(vecCol=vc, nlist=self.get_("nlist"),
                       maxIter=self.get_("maxIter")).fit(corpus)
        idx.set(IVFIndexModel.nprobe, self.get_("nprobe"))
        indexed = idx.transform(
            corpus.select(F.col(cid), F.col(vc),
                          F.col(lc).alias("__cl__")))[0]
        q = anchors.select(F.col(qid), F.col(vc), F.col(lc).alias("__ql__"))
        out = idx.search(
            q, indexed, qid, cid, self.get_("k"),
            carry_query_cols=("__ql__",), carry_corpus_cols=("__cl__",),
            candidate_filter=~F.col("__ql__").eqNullSafe(F.col("__cl__")))
        return [out]
