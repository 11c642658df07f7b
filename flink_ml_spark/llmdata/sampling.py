"""Corpus-composition operators: weighted domain-mixture sampling and
token-budget sequence packing.  North-star extension ops (BASELINE.json):
what a training-data pipeline does between "corpus is clean" and "batches
hit the trainer".
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator, Estimator, Model, Transformer
from ..param import IntParam, FloatParam, Param, ParamValidators, StringParam

# the same deterministic 31-bit multiplicative hash the corpus-prep
# pipeline's split uses (queries/llmdata_queries.py llm_prep) — linear
# congruential over the id, reproducible in any SQL engine
HASH_MOD = 2147483648


def _unit_hash(idc, salt: int):
    # reduce the id mod 2^31 BEFORE the multiply: (2^31)·2654435761 < 2^63,
    # so the product never overflows int64 in any engine.  Both remainders
    # are normalized to [0, M) — Spark's % keeps the dividend's sign, and
    # an un-normalized negative unit value would compare < every keep-rate
    # (negative ids always kept, even at rate 0.0).
    inner = ((F.col(idc) % HASH_MOD) + HASH_MOD) % HASH_MOD
    return (((inner * 2654435761 + F.lit(salt)) % HASH_MOD + HASH_MOD)
            % HASH_MOD) / float(HASH_MOD)


def _unit_hash_local(id_val, salt: int) -> float:
    # Python's % already returns a value in [0, m) for positive m, matching
    # the normalized Spark expression above for every int64 id
    return ((int(id_val) % HASH_MOD) * 2654435761 + salt) % HASH_MOD \
        / float(HASH_MOD)


class DomainMixtureSampler(Transformer):
    """Per-domain weighted downsampling: keep a row of domain ``d`` with
    probability ``rates[d]`` (``defaultRate`` for unlisted domains), decided
    by a deterministic per-id hash so the sample is reproducible and
    re-runnable (no RNG state).  This is the mixture-reweighting step of a
    training-data pipeline (e.g. upweight curated sources, downsample web
    crawl) expressed as ONE narrow filter — no shuffle, no UDF; the rate
    map rides the plan as a literal CASE over domain values (domains are
    few; unbounded-cardinality domain columns should be bucketed first).
    """

    idCol = StringParam("idCol", "Unique id column.", "id")
    domainCol = StringParam("domainCol", "Domain/source column.", "source")
    rates = Param("rates", "domain -> keep-rate in [0,1].", {})
    defaultRate = FloatParam("defaultRate", "Rate for unlisted domains.", 1.0,
                             ParamValidators.in_range(0, 1))
    salt = IntParam("salt", "Hash salt.", 7)

    def _transform(self, df: DataFrame) -> DataFrame:
        rates: dict[str, float] = self.get_("rates")
        rate = F.lit(float(self.get_("defaultRate")))
        for dom, r in sorted(rates.items()):
            rate = F.when(F.col(self.get_("domainCol")) == dom,
                          F.lit(float(r))).otherwise(rate)
        u = _unit_hash(self.get_("idCol"), self.get_("salt"))
        return df.filter(u < rate)

    def transform_local(self, pdf):
        rates: dict[str, float] = self.get_("rates")
        default = float(self.get_("defaultRate"))
        salt = self.get_("salt")
        keep = []
        for _, r in pdf.iterrows():
            u = _unit_hash_local(r[self.get_("idCol")], salt)
            keep.append(u < rates.get(r[self.get_("domainCol")], default))
        return pdf[keep].reset_index(drop=True)


class TemperatureMixtureSampler(Estimator):
    """Temperature-based domain balancing (the multilingual-LM sampling
    rule, public literature: Xue et al. 2021 mT5 §3.1 / Conneau et al.
    2020 XLM-R §3): target domain probability ∝ (n_d/N)^alpha with
    alpha < 1 flattening the mixture toward small domains.  Expressed
    downsample-only — per-row keep-rate (n_d/n_min)^(alpha-1), so the
    smallest domain keeps everything and larger domains shed rows — and
    decided by the same deterministic per-id hash as
    ``DomainMixtureSampler`` (reproducible, engine-portable, no RNG).

    fit = ONE domain-count aggregation (domains are few → model-sized
    collect); the fitted model filters with a literal CASE over domains —
    a narrow zero-shuffle scan at any corpus size.
    """

    idCol = StringParam("idCol", "Unique id column.", "id")
    domainCol = StringParam("domainCol", "Domain/source column.", "source")
    alpha = FloatParam("alpha", "Temperature exponent in (0, 1].", 0.5,
                       ParamValidators.in_range(0, 1, False, True))
    salt = IntParam("salt", "Hash salt.", 7)

    def fit(self, *inputs: DataFrame) -> "TemperatureMixtureSamplerModel":
        (df,) = inputs
        counts = {r[0]: r[1] for r in
                  df.groupBy(self.get_("domainCol")).count().collect()}
        n_min = min(counts.values())
        a = float(self.get_("alpha"))
        rates = {d: float((n / n_min) ** (a - 1.0))
                 for d, n in counts.items()}
        model = TemperatureMixtureSamplerModel()
        model.set_(idCol=self.get_("idCol"), domainCol=self.get_("domainCol"),
                   salt=self.get_("salt"))
        model.model_data = {"rates": rates}
        return model


class TemperatureMixtureSamplerModel(Model):
    idCol = StringParam("idCol", "Unique id column.", "id")
    domainCol = StringParam("domainCol", "Domain/source column.", "source")
    salt = IntParam("salt", "Hash salt.", 7)

    def _transform(self, df: DataFrame) -> DataFrame:
        rates: dict[str, float] = self.model_data["rates"]
        rate = F.lit(0.0)  # unseen domains drop (not in the fitted mixture)
        for dom, r in sorted(rates.items()):
            rate = F.when(F.col(self.get_("domainCol")) == dom,
                          F.lit(float(r))).otherwise(rate)
        u = _unit_hash(self.get_("idCol"), self.get_("salt"))
        return df.filter(u < rate)

    def transform_local(self, pdf):
        rates: dict[str, float] = self.model_data["rates"]
        salt = self.get_("salt")
        keep = []
        for _, r in pdf.iterrows():
            u = _unit_hash_local(r[self.get_("idCol")], salt)
            keep.append(u < rates.get(r[self.get_("domainCol")], 0.0))
        return pdf[keep].reset_index(drop=True)


class CorpusShuffler(Transformer):
    """Deterministic epoch-keyed training-order shuffle: a training run
    wants the corpus in a reproducible pseudo-random order decoupled from
    ingest/crawl order, re-drawn per epoch.  Adds ``order_key`` — the
    corpus-prep pipelines' 31-bit multiplicative id hash, salted by
    ``epoch`` — and ``shard`` = order_key % numShards, the
    (shard, within-shard order) layout a sharded training-data writer
    consumes.

    Plan: two codegen'd integer expressions, zero shuffles.  The physical
    reorder belongs to the consumer's write: ``shuffled(df)`` returns the
    arrangement (repartition on shard + sortWithinPartitions on
    order_key) — ONE hash shuffle plus a local sort at any scale, never a
    global total-order sort; readers stream shards in filename order and
    get the same permutation every run.
    """

    idCol = StringParam("idCol", "Unique id column.", "id")
    numShards = IntParam("numShards", "Output shards.", 1024,
                         ParamValidators.gt(0))
    epoch = IntParam("epoch", "Epoch number (varies the permutation).", 0)
    salt = IntParam("salt", "Hash salt.", 13)

    def _order_key(self):
        idc = self.get_("idCol")
        # the epoch must mix NON-affinely: any affine-in-id epoch term
        # (salted add, changed multiplier) shifts every key by the same
        # constant mod M, which only ROTATES the sorted order — epochs
        # would replay near-identical training order.  XOR with an
        # epoch-derived mask is a bijection that genuinely re-permutes.
        mask = (self.get_("epoch") * 2654435761) % HASH_MOD
        base = (((F.col(idc) % HASH_MOD) + HASH_MOD) % HASH_MOD
                * 2654435761 + F.lit(self.get_("salt"))) % HASH_MOD
        return base.bitwiseXOR(F.lit(mask))

    def _transform(self, df: DataFrame) -> DataFrame:
        key = self._order_key()
        return (df.withColumn("order_key", key)
                .withColumn("shard",
                            (F.col("order_key") % self.get_("numShards"))
                            .cast("int")))

    def shuffled(self, df: DataFrame) -> DataFrame:
        """The physically shuffled arrangement: rows co-located by shard,
        shards contiguous within a task, ordered by order_key inside each
        shard.  Hash partitioning maps several shard VALUES into one task
        partition (and leaves some empty), so the sort leads with shard —
        a writer cutting one file per shard should `partitionBy("shard")`
        on write (or read contiguous shard runs), not assume task ==
        shard."""
        out = self._transform(df)
        return (out.repartition(self.get_("numShards"), "shard")
                .sortWithinPartitions("shard", "order_key"))


class SequencePacker(Transformer):
    """Greedy token-budget packing: assign documents to fixed-budget
    training sequences.  Documents are sharded by ``id % numShards``;
    within a shard (ordered by id) a running greedy scan opens a new
    sequence whenever adding the next document would exceed ``budget``
    tokens (an oversized single document occupies its own sequence).
    Output adds ``shard`` and ``seq`` (sequence index within the shard).

    Plan: one hash shuffle on the shard key, then ``applyInPandas`` per
    shard — packing is inherently sequential *within* a sequence stream,
    so the parallelism axis IS the shard count; at 100 TB you run
    thousands of shards and each task does one linear pass.  The
    shard-then-scan shape is the standard distributed packing layout
    (per-worker streams), not a compromise.
    """

    idCol = StringParam("idCol", "Unique id column.", "id")
    tokenCol = StringParam("tokenCol", "Token-count column.", "n_tokens")
    budget = IntParam("budget", "Max tokens per packed sequence.", 2048,
                      ParamValidators.gt(0))
    numShards = IntParam("numShards", "Parallel packing streams.", 8,
                         ParamValidators.gt(0))

    def _transform(self, df: DataFrame) -> DataFrame:
        idc, tcol = self.get_("idCol"), self.get_("tokenCol")
        budget = int(self.get_("budget"))
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        ) + ", shard int, seq int"
        sharded = df.withColumn(
            "shard", (F.col(idc) % self.get_("numShards")).cast("int"))

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(idc, kind="mergesort")
            seqs = []
            cur, fill = 0, 0
            for t in pdf[tcol].astype(int):
                if fill > 0 and fill + t > budget:
                    cur += 1
                    fill = 0
                fill += t
                seqs.append(cur)
            pdf["seq"] = pd.array(seqs, dtype="int32")
            return pdf

        return (sharded.groupBy("shard")
                .applyInPandas(pack, out_schema))


class DocumentChunker(Transformer):
    """Fixed-token-budget document chunking with overlap — the standard
    splitting step between cleaning and tokenization (training context
    windows, RAG passages).  Each document yields chunks of up to
    ``chunkSize`` whitespace tokens starting every ``chunkSize - overlap``
    tokens; the final partial chunk is kept.  Output explodes to one row
    per chunk with ``chunk_start`` (token offset) and ``chunkCol`` (the
    chunk text); empty documents yield no rows.

    Plan: pure codegen'd Column expressions (sequence → slice →
    array_join) under one explode — zero shuffles, no Python, and the
    explode multiplies rows only by ceil(doc_len/stride), so the operator
    is embarrassingly parallel at 100 TB.
    """

    textCol = StringParam("textCol", "Input text column.", "text")
    chunkCol = StringParam("chunkCol", "Output chunk-text column.", "chunk")
    chunkSize = IntParam("chunkSize", "Max tokens per chunk.", 512,
                         ParamValidators.gt(0))
    overlap = IntParam("overlap", "Tokens shared between neighbors.", 0,
                       ParamValidators.gt_eq(0))

    def _transform(self, df: DataFrame) -> DataFrame:
        size, over = self.get_("chunkSize"), self.get_("overlap")
        if over >= size:
            raise ValueError("overlap must be < chunkSize")
        stride = size - over
        toks = F.array_remove(
            F.split(F.lower(F.col(self.get_("textCol"))), r"\s"), "")
        n = F.size(toks)
        starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))) \
            .otherwise(F.array().cast("array<int>"))
        chunks = F.transform(
            starts,
            lambda s: F.struct(
                s.cast("long").alias("chunk_start"),
                F.array_join(F.slice(toks, s + 1, size), " ")
                .alias(self.get_("chunkCol"))))
        return (df.withColumn("__chunk__", F.explode(chunks))
                .withColumn("chunk_start", F.col("__chunk__.chunk_start"))
                .withColumn(self.get_("chunkCol"),
                            F.col(f"__chunk__.{self.get_('chunkCol')}"))
                .drop("__chunk__"))

    def transform_local(self, pdf):
        import re

        import pandas as pd
        size, over = self.get_("chunkSize"), self.get_("overlap")
        if over >= size:
            raise ValueError("overlap must be < chunkSize")
        stride = size - over
        ws = re.compile("[ \t\n\x0b\f\r]")  # Java \s (ASCII-only)
        out_rows = []
        for _, r in pdf.iterrows():
            toks = [t for t in ws.split((r[self.get_("textCol")] or "").lower()) if t]
            for start in range(0, len(toks), stride):
                d = r.to_dict()
                d["chunk_start"] = start
                d[self.get_("chunkCol")] = " ".join(toks[start:start + size])
                out_rows.append(d)
        return pd.DataFrame(out_rows, columns=list(pdf.columns)
                            + ["chunk_start", self.get_("chunkCol")])


def _bucket_bincount(texts, b: int, ngram_max: int):
    """Hashed n-gram bucket counts of a text series: one vectorized
    bincount over per-token poly hashes (n=1) plus, for n=2..ngram_max,
    over compositional window hashes (``np_shingle_hashes`` — windows of
    rows with ≥ n tokens only; the short-row full-text fallback gram is
    dropped because a feature extractor must not conflate a 1-token doc
    with its own bigram)."""
    import numpy as np
    from .dedup import flat_tokens, np_poly_hash, np_shingle_hashes
    tok_lists = [(t or "").lower().split() for t in texts]
    cnt = np.zeros(b, dtype=np.int64)
    flat, lens, _ = flat_tokens(tok_lists)
    if len(flat):
        cnt += np.bincount(np_poly_hash(flat) % b, minlength=b)
    for n in range(2, ngram_max + 1):
        rows = np_shingle_hashes(tok_lists, n)
        grams = [h for h, ln in zip(rows, lens) if ln >= n]
        if grams:
            allh = np.concatenate(grams)
            if len(allh):
                cnt += np.bincount(allh % b, minlength=b)
    return cnt


def _bucket_logw(texts, lr, b: int, ngram_max: int):
    """Per-doc Σ log-ratio over the same hashed n-gram features as
    ``_bucket_bincount`` (kept in lockstep: fit and score must see the
    identical feature multiset)."""
    import numpy as np
    from .dedup import flat_tokens, np_poly_hash, np_shingle_hashes
    tok_lists = [(t or "").lower().split() for t in texts]
    out = np.zeros(len(tok_lists))
    flat, lens, _ = flat_tokens(tok_lists)
    if len(flat):
        vals = lr[np_poly_hash(flat) % b]
        doc_idx = np.repeat(np.arange(len(tok_lists)), lens)
        out += np.bincount(doc_idx, weights=vals, minlength=len(tok_lists))
    for n in range(2, ngram_max + 1):
        rows = np_shingle_hashes(tok_lists, n)
        m = np.where(lens >= n, lens - n + 1, 0)
        if not m.sum():
            continue
        grams = np.concatenate([h for h, ln in zip(rows, lens) if ln >= n])
        vals = lr[grams % b]
        doc_idx = np.repeat(np.arange(len(tok_lists)), m)
        out += np.bincount(doc_idx, weights=vals, minlength=len(tok_lists))
    return out


class ImportanceResampler(Estimator):
    """DSIR-style data selection via importance resampling (public
    literature: Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling", NeurIPS 2023).  ``fit(raw, target)`` estimates
    bag-of-hashed-unigram distributions over ``numBuckets`` poly-hash
    buckets — p for the small curated TARGET corpus, q for the big RAW
    corpus — with add-``smoothing`` smoothing; the fitted model scores
    each raw document with its log importance weight
    ``logw(x) = Σ_tokens [ln p(bucket) − ln q(bucket)]`` and adds the
    paper's Gumbel perturbation ``key = logw + g_id`` where
    ``g_id = −ln(−ln(u_id))`` comes from the deterministic per-id unit
    hash — so "keep the top-k keys" IS Gumbel-top-k sampling without
    replacement from the importance-weighted distribution, reproducible
    across runs and engines with no RNG state.

    Features are hashed word n-grams for n = 1..``ngramMax`` (the paper
    uses unigrams + bigrams → ngramMax=2): every token occurrence, plus
    every n-gram window of documents with ≥ n tokens, poly-hashed into
    the bucket space.  An empty document has no features and scores 0.

    100 TB plan: fit = ONE Arrow partial-bincount pass per corpus —
    each partition emits its nonzero (bucket, count) pairs (≤ numBuckets
    rows per partition; n-gram hashes assemble from per-token hashes via
    the compositional fold, no n-gram string ever materializes) and one
    narrow groupBy(bucket) combines them, so at most ``numBuckets`` rows
    reach the driver and the model is fixed-size by construction
    regardless of corpus bytes.  Scoring is zero-shuffle: the bucket
    log-ratio array rides to executors inside ONE Arrow-vectorized pass
    (poly-hash → gather → per-doc bincount segment sum); the Gumbel key
    is a codegen'd Column expression.  Selection composes downstream: a
    global top-k is TakeOrdered, per-domain exact budgets reuse the
    per-key top-k (StratifiedBudgetSampler).
    """

    idCol = StringParam("idCol", "Unique id column.", "id")
    inputCol = StringParam("inputCol", "Text column.", "text")
    outputCol = StringParam("outputCol", "Log importance weight column.",
                            "dsir_logw")
    keyCol = StringParam("keyCol", "Gumbel-perturbed selection key column.",
                         "dsir_key")
    numBuckets = IntParam("numBuckets", "Hashed-feature buckets.", 4096,
                          ParamValidators.gt(0))
    ngramMax = IntParam("ngramMax", "Hash word n-grams for n=1..this.", 1,
                        ParamValidators.gt(0))
    smoothing = FloatParam("smoothing", "Add-a smoothing per bucket.", 1.0,
                           ParamValidators.gt(0))
    salt = IntParam("salt", "Gumbel hash salt.", 7)

    def fit(self, *inputs: DataFrame) -> "ImportanceResamplerModel":
        raw, target = inputs
        b = int(self.get_("numBuckets"))
        a = float(self.get_("smoothing"))
        col = self.get_("inputCol")
        ngram_max = int(self.get_("ngramMax"))
        import math
        import numpy as np

        def bucket_counts(df: DataFrame) -> tuple[list[int], int]:
            def partials(it):
                for pdf in it:
                    if not len(pdf):
                        continue
                    cnt = _bucket_bincount(pdf[col], b, ngram_max)
                    nz = np.nonzero(cnt)[0]
                    if len(nz):
                        yield pd.DataFrame({"b": nz.astype("int32"),
                                            "c": cnt[nz]})

            rows = (df.select(col).mapInPandas(partials, "b int, c long")
                    .groupBy("b").agg(F.sum("c").alias("c")).collect())
            counts = [0] * b
            for r in rows:
                counts[int(r["b"])] = int(r["c"])
            return counts, sum(counts)

        q_cnt, q_tot = bucket_counts(raw)
        p_cnt, p_tot = bucket_counts(target)
        lr = [math.log((p_cnt[i] + a) / (p_tot + a * b))
              - math.log((q_cnt[i] + a) / (q_tot + a * b))
              for i in range(b)]
        model = ImportanceResamplerModel()
        model.set_(idCol=self.get_("idCol"), inputCol=self.get_("inputCol"),
                   outputCol=self.get_("outputCol"), keyCol=self.get_("keyCol"),
                   numBuckets=b, ngramMax=ngram_max, salt=self.get_("salt"))
        model.model_data = {"logratio": lr}
        return model


class ImportanceResamplerModel(Model):
    idCol = StringParam("idCol", "Unique id column.", "id")
    inputCol = StringParam("inputCol", "Text column.", "text")
    outputCol = StringParam("outputCol", "Log importance weight column.",
                            "dsir_logw")
    keyCol = StringParam("keyCol", "Gumbel-perturbed selection key column.",
                         "dsir_key")
    numBuckets = IntParam("numBuckets", "Hashed-feature buckets.", 4096,
                          ParamValidators.gt(0))
    ngramMax = IntParam("ngramMax", "Hash word n-grams for n=1..this.", 1,
                        ParamValidators.gt(0))
    salt = IntParam("salt", "Gumbel hash salt.", 7)

    def _logw_fn(self):
        """Score closure over plain values (param resolution must happen
        driver-side: the pickled model's identity-keyed param map doesn't
        survive the trip into an executor UDF)."""
        import numpy as np
        lr = np.asarray(self.model_data["logratio"], dtype=np.float64)
        b = int(self.get_("numBuckets"))
        ngram_max = int(self.get_("ngramMax"))

        def logw(texts):
            return _bucket_logw(texts, lr, b, ngram_max)

        return logw

    def _gumbel_key(self) -> Column:
        # u ∈ (0, 1): the integer hash h ∈ [0, M) shifted by +0.5 before
        # the divide so neither log is ever of 0/1 exactly
        idc, salt = self.get_("idCol"), self.get_("salt")
        inner = ((F.col(idc) % HASH_MOD) + HASH_MOD) % HASH_MOD
        h = ((inner * 2654435761 + F.lit(salt)) % HASH_MOD
             + HASH_MOD) % HASH_MOD
        u = (h + F.lit(0.5)) / float(HASH_MOD)
        return F.col(self.get_("outputCol")) - F.log(-F.log(u))

    def _transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.functions import pandas_udf
        logw_fn = self._logw_fn()

        def score(texts):
            return pd.Series(logw_fn(texts))

        score.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        score = pandas_udf(score, "double")
        return (df.withColumn(self.get_("outputCol"),
                              score(F.col(self.get_("inputCol"))))
                .withColumn(self.get_("keyCol"), self._gumbel_key()))

    def transform_local(self, pdf):
        import math
        out = pdf.copy()
        out[self.get_("outputCol")] = self._logw_fn()(
            pdf[self.get_("inputCol")])
        salt = self.get_("salt")
        keys = []
        for idv, lw in zip(pdf[self.get_("idCol")],
                           out[self.get_("outputCol")]):
            h = ((int(idv) % HASH_MOD) * 2654435761 + salt) % HASH_MOD
            u = (h + 0.5) / float(HASH_MOD)
            keys.append(float(lw) - math.log(-math.log(u)))
        out[self.get_("keyCol")] = keys
        return out


class StratifiedBudgetSampler(Transformer):
    """Exact per-domain row budgets: keep exactly ``min(budget_d, n_d)``
    rows from each domain (``budgets[d]``, ``defaultBudget`` for unlisted
    domains), chosen in deterministic per-id hash order — the exact-count
    counterpart to the rate-based samplers above, for pipelines that fix
    a hard document (or, upstream-weighted, token) budget per source
    rather than a keep probability.  The hash order makes the selection a
    reproducible uniform sample of the domain with no RNG state, and ids
    break ties so the result is engine-exact.

    Plan: ``top_k_per_key`` over the largest budget — one window whose
    partial window-group limit keeps at most that many rows per domain
    per map partition before the shuffle, so a hot domain (at 100 TB one
    crawl source can be most of the corpus) never funnels through a
    single task while the budget is ≤ 1000 (above that, a domain's rows
    sort in one task).  One shuffle of (id, domain, hash) triples; text
    never shuffles (callers semi-join the kept ids back).
    """

    idCol = StringParam("idCol", "Unique id column.", "id")
    domainCol = StringParam("domainCol", "Domain/source column.", "source")
    budgets = Param("budgets", "domain -> max rows kept.", {})
    defaultBudget = IntParam("defaultBudget",
                             "Budget for unlisted domains.", 1000,
                             ParamValidators.gt_eq(0))
    salt = IntParam("salt", "Hash salt.", 7)
    retired_params = frozenset({"saltBuckets"})

    def _budget_expr(self):
        budgets: dict[str, int] = self.get_("budgets")
        b = F.lit(int(self.get_("defaultBudget")))
        for dom, k in sorted(budgets.items()):
            b = F.when(F.col(self.get_("domainCol")) == dom,
                       F.lit(int(k))).otherwise(b)
        return b

    def _transform(self, df: DataFrame) -> DataFrame:
        from ..common.dataflow import top_k_per_key
        budgets: dict[str, int] = self.get_("budgets")
        k_max = max([int(self.get_("defaultBudget"))]
                    + [int(v) for v in budgets.values()])
        idc = self.get_("idCol")
        u = _unit_hash(idc, self.get_("salt"))
        ranked = top_k_per_key(
            df.withColumn("__u__", u), [self.get_("domainCol")],
            [F.col("__u__").asc(), F.col(idc).asc()], k_max,
            rank_col="__rank__")
        return (ranked.filter(F.col("__rank__") <= self._budget_expr())
                .drop("__u__", "__rank__"))

    def transform_local(self, pdf):
        budgets: dict[str, int] = self.get_("budgets")
        default, salt = int(self.get_("defaultBudget")), self.get_("salt")
        idc, dcol = self.get_("idCol"), self.get_("domainCol")
        pdf = pdf.copy()
        pdf["__u__"] = [_unit_hash_local(v, salt) for v in pdf[idc]]
        pdf = pdf.sort_values(["__u__", idc], kind="mergesort")
        # dropna=False: Spark's Window.partitionBy treats a null domain as
        # its own partition (kept up to defaultBudget) — match it
        pdf["__rank__"] = pdf.groupby(dcol, dropna=False).cumcount() + 1
        lim = pdf[dcol].map(lambda d: budgets.get(d, default),
                            na_action=None).fillna(default)
        return (pdf[pdf["__rank__"] <= lim]
                .drop(columns=["__u__", "__rank__"])
                .sort_index().reset_index(drop=True))


class NegativeSampler(AlgoOperator):
    """Deterministic uniform negative sampling for contrastive / metric /
    retriever training: for every query in ``positives``, draw ``k``
    pseudo-random corpus items that are NOT among that query's positives
    (in-batch negatives are biased toward frequent items; a corpus-wide
    uniform draw is the standard complement — e.g. DPR, Karpukhin et al.
    2020, mixes exactly these two).

    Reproducibility: no RNG state — every draw is the corpus-prep LCG
    (``_unit_hash``) over (query, draw-index), so re-runs, retries and
    the SQL oracle produce the identical sample.

    Scale design: the corpus is hashed into ``numBuckets`` buckets
    (expected size ``bucketSize``); each (query, draw j) targets ONE
    bucket and picks the member whose unit hash is closest to the draw's
    unit value (ties → lowest id).  The candidate join is
    ``queries × draws × bucketSize`` rows — linear in queries, constant
    per draw, never ``queries × corpus`` — followed by a left_anti join
    against the positives and three query-keyed top-k ranks (per-query
    cardinality = draws, driver never involved).  All expressions, no
    UDFs.

    ``transform(positives, corpus)`` → ``(query, negative, j)`` with at
    most ``k`` rows per query (fewer only if ``k + margin`` draws all
    collide with positives/duplicates — raise ``margin`` for tiny
    corpora)."""

    queryCol = StringParam("queryCol", "Query id column in positives.", "query")
    posCol = StringParam("posCol", "Positive doc id column in positives.", "doc")
    docCol = StringParam("docCol", "Doc id column in the corpus table.", "doc")
    k = IntParam("k", "Negatives per query.", 5, ParamValidators.gt(0))
    margin = IntParam("margin", "Extra draws to absorb positive/duplicate "
                      "collisions.", 2, ParamValidators.gt_eq(0))
    bucketSize = IntParam("bucketSize", "Expected corpus rows per hash "
                          "bucket (numBuckets = max(1, n // bucketSize)).",
                          64, ParamValidators.gt(0))
    numBuckets = IntParam("numBuckets", "Override the derived bucket "
                          "count.", None, lambda v: v is None or v > 0)
    salt = IntParam("salt", "Hash salt.", 7)

    @staticmethod
    def _lcg(col, salt: int):
        """One LCG round on an int64 column, result in [0, 2^31)."""
        inner = ((col % HASH_MOD) + HASH_MOD) % HASH_MOD
        return (((inner * 2654435761 + F.lit(salt)) % HASH_MOD + HASH_MOD)
                % HASH_MOD)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        positives, corpus = inputs
        qc, pc, dc = (self.get_("queryCol"), self.get_("posCol"),
                      self.get_("docCol"))
        k, salt = self.get_("k"), self.get_("salt")
        draws = k + self.get_("margin")
        b = self.get_("numBuckets")
        if b is None:
            n = corpus.count()
            b = max(1, n // self.get_("bucketSize"))
        # corpus side: bucket + tie-break unit hash, computed once per doc
        docs = corpus.select(
            F.col(dc).alias("__doc__"),
            (self._lcg(F.col(dc), salt) % b).alias("__bkt__"),
            (self._lcg(F.col(dc), salt) / float(HASH_MOD)).alias("__du__"))
        # query side: distinct queries × draw indices; two chained LCG
        # rounds give the per-(query, j) bucket and target unit
        q = (positives.select(F.col(qc).alias("__q__")).distinct()
             .select("__q__", F.explode(F.sequence(
                 F.lit(1), F.lit(draws))).alias("j")))
        h1 = self._lcg(F.col("__q__"), salt)
        h2 = self._lcg((h1 + F.col("j")) % HASH_MOD, salt)
        q = q.select("__q__", "j", (h2 % b).alias("__bkt__"),
                     (self._lcg(h2, salt) / float(HASH_MOD)).alias("__u__"))
        cand = (q.join(docs, "__bkt__")
                .join(positives.select(F.col(qc).alias("__q__"),
                                       F.col(pc).alias("__doc__")),
                      ["__q__", "__doc__"], "left_anti"))
        from ..common.dataflow import top_k_per_key
        # pick one doc per draw, keep each doc's first draw, then the
        # first k draws; each order is total up to identical rows (j is
        # unique per query once every draw has picked one doc)
        picked = top_k_per_key(cand, ["__q__", "j"], [
            F.abs(F.col("__du__") - F.col("__u__")), F.col("__doc__")], 1)
        deduped = top_k_per_key(picked, ["__q__", "__doc__"], [F.col("j")], 1)
        out = top_k_per_key(deduped, ["__q__"], [F.col("j")], k)
        return [out.select(F.col("__q__").alias(qc),
                           F.col("__doc__").alias("negative"), "j")]


class WeightedSampler(Transformer):
    """Weighted sampling WITHOUT replacement, deterministic: take the
    top-``k`` rows by the Efraimidis–Spirakis key u^(1/w) (Efraimidis &
    Spirakis 2006) with u drawn from the corpus-prep LCG instead of an
    RNG — inclusion probabilities follow the weights (quality scores,
    token counts, recency weights), yet re-runs, retries and the SQL
    oracle reproduce the exact sample.  ``byCol`` makes it per-group
    (k docs per source/language).

    Scale: the key is a zero-shuffle row expression; selection is
    ``top_k_per_key`` — a TakeOrderedAndProject without ``byCol``, a
    partial window-group limit per group with it (k ≤ 1000; above that
    the rows sort in one task per group, or in one task overall)."""

    idCol = StringParam("idCol", "Unique integer id column.", "id")
    weightCol = StringParam("weightCol", "Positive weight column.", "weight")
    k = IntParam("k", "Rows to keep (per group with byCol).", 100,
                 ParamValidators.gt(0))
    byCol = StringParam("byCol", "Optional group column.", None)
    salt = IntParam("salt", "Hash salt.", 7)
    keyRounding = IntParam(
        "keyRounding", "Round the u^(1/w) key to this many decimals "
        "before ranking (None = raw).  pow() may differ in the last ulp "
        "across libm implementations; rounding + the id tiebreaker makes "
        "the selected set engine-reproducible (the bm25 scoreRounding "
        "convention).", None, lambda v: v is None or v > 0)

    def _transform(self, df: DataFrame) -> DataFrame:
        from ..common.dataflow import top_k_per_key
        idc = self.get_("idCol")
        # the salt must mix NON-affinely (the CorpusShuffler lesson: an
        # additive salt shifts every hash by the same constant mod M —
        # a near-rotation that leaves top-k samples almost unchanged);
        # XOR with a salt-derived mask genuinely re-permutes
        mask = (int(self.get_("salt")) * 2654435761) % HASH_MOD
        base = ((((F.col(idc) % HASH_MOD) + HASH_MOD) % HASH_MOD)
                * 2654435761) % HASH_MOD
        u = base.bitwiseXOR(F.lit(mask)) / float(HASH_MOD)
        w = F.col(self.get_("weightCol")).cast("double")
        # u^(1/w); w <= 0 or null excludes the row (key null -> dropped)
        key = F.when(w > 0, F.pow(u, 1.0 / w)).otherwise(F.lit(None))
        if self.get_("keyRounding") is not None:
            key = F.round(key, int(self.get_("keyRounding")))
        tagged = (df.withColumn("__wkey__", key)
                  .filter(F.col("__wkey__").isNotNull()))
        by = self.get_("byCol")
        out = top_k_per_key(tagged, [by] if by else [],
                            [F.desc("__wkey__"), F.asc(idc)],
                            self.get_("k"), rank_col="__wrank__")
        return out.drop("__wkey__", "__wrank__")
