"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.  North-star extension ops (BASELINE.json) — all
pure Column expressions over the documents table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..api import AlgoOperator, Estimator, Model, Transformer
from ..param import (BoolParam, FloatParam, HasInputCol, HasOutputCol,
                     IntParam, ParamValidators, StringArrayParam, StringParam)
from .dedup import MINHASH_PRIME, poly_token_hash

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language-ID (deterministic, SQL-expressible; real systems would plug a
# fastText-style model in via pandas UDF)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "una", "por", "con"],
}


def _tokens(text: Column) -> Column:
    return F.array_remove(F.split(F.lower(text), r"\s"), "")


# Java's \s is ASCII-only [ \t\n\x0B\f\r]; Python str.split()/re \s are
# Unicode-aware, which would silently diverge from the cluster path on
# e.g. non-breaking spaces — served outputs must match the engine exactly
_JAVA_WS = __import__("re").compile("[ \t\n\x0b\f\r]")


def _local_tokens(text: str | None) -> list[str]:
    return [t for t in _JAVA_WS.split((text or "").lower()) if t]


class LanguageIdentifier(Transformer, HasInputCol, HasOutputCol):
    """Stopword-marker vote: language with the most marker-token hits;
    ties and zero hits → 'und' (undetermined).  Tie-break: language code
    ascending (deterministic)."""

    def _transform(self, df: DataFrame) -> DataFrame:
        toks = _tokens(F.col(self.get_("inputCol")))
        scores = []
        for lang in sorted(LANG_MARKERS):
            markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
            hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
            scores.append(F.struct((-hits).alias("neg"), F.lit(lang).alias("lang")))
        best = F.array_min(F.array(*scores))
        out = F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))
        return df.withColumn(self.get_("outputCol"), out)

    def transform_local(self, pdf):
        rows = []
        for text in pdf[self.get_("inputCol")]:
            toks = _local_tokens(text)
            best_lang, best_hits = "und", 0
            for lang in sorted(LANG_MARKERS):
                hits = sum(1 for t in toks if t in LANG_MARKERS[lang])
                if hits > best_hits:
                    best_lang, best_hits = lang, hits
            rows.append(best_lang)
        out = pdf.copy()
        out[self.get_("outputCol")] = rows
        return out


class TextQualityScorer(Transformer, HasInputCol):
    """Heuristic quality signals (Gopher/C4-style rules, public
    literature): mean word length, stopword ratio, punctuation ratio,
    digit ratio, plus a composite [0,1] score.  Adds columns
    ``q_*`` and ``quality_score``."""

    def _transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.get_("inputCol"))
        toks = _tokens(text)
        n_tok = F.size(toks)
        n_chars = F.length(text)
        mean_wl = F.when(n_tok > 0,
                         F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
                         .cast("double") / n_tok).otherwise(0.0)
        stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
        stop_ratio = F.when(n_tok > 0,
                            F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
                            .cast("double") / n_tok).otherwise(0.0)
        punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
        punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
        digits = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
        digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(0.0)
        # composite: word length in [3,10], some stopwords, few digits
        score = (
            F.when((mean_wl >= 3) & (mean_wl <= 10), 0.4).otherwise(0.0)
            + F.when(stop_ratio >= 0.05, 0.3).otherwise(0.0)
            + F.when(digit_ratio <= 0.2, 0.2).otherwise(0.0)
            + F.when(n_tok >= 10, 0.1).otherwise(0.0))
        return (df.withColumn("q_mean_word_len", mean_wl)
                .withColumn("q_stopword_ratio", stop_ratio)
                .withColumn("q_punct_ratio", punct_ratio)
                .withColumn("q_digit_ratio", digit_ratio)
                .withColumn("quality_score", score))

    def transform_local(self, pdf):
        stop = set(LANG_MARKERS["en"])
        cols = {"q_mean_word_len": [], "q_stopword_ratio": [],
                "q_punct_ratio": [], "q_digit_ratio": [], "quality_score": []}
        for text in pdf[self.get_("inputCol")]:
            t = text or ""
            toks = _local_tokens(t)
            n_tok, n_chars = len(toks), len(t)
            mean_wl = (sum(len(x) for x in toks) / n_tok) if n_tok else 0.0
            stop_ratio = (sum(1 for x in toks if x in stop) / n_tok) if n_tok else 0.0
            punct_ratio = (sum(1 for c in t if c in ".,;:!?") / n_chars) if n_chars else 0.0
            # '[0-9]' on the cluster is ASCII-only; isdigit() would also
            # count Unicode digits and diverge the served ratio
            digit_ratio = (sum(1 for c in t if "0" <= c <= "9") / n_chars) if n_chars else 0.0
            score = ((0.4 if 3 <= mean_wl <= 10 else 0.0)
                     + (0.3 if stop_ratio >= 0.05 else 0.0)
                     + (0.2 if digit_ratio <= 0.2 else 0.0)
                     + (0.1 if n_tok >= 10 else 0.0))
            cols["q_mean_word_len"].append(mean_wl)
            cols["q_stopword_ratio"].append(stop_ratio)
            cols["q_punct_ratio"].append(punct_ratio)
            cols["q_digit_ratio"].append(digit_ratio)
            cols["quality_score"].append(score)
        out = pdf.copy()
        for k, v in cols.items():
            out[k] = v
        return out


class CharEntropyScorer(Transformer, HasInputCol):
    """Character-distribution quality signals: per-document Shannon
    entropy (bits) of the character frequency distribution plus the
    distinct-character ratio.  Low entropy flags repeated-character /
    boilerplate junk; implausibly high entropy (near log2 of the charset
    size) flags random/binary garbage — both standard cheap gates in a
    corpus-cleaning pipeline ahead of the expensive model-based scorers.
    Adds ``char_entropy`` and ``distinct_char_ratio``.

    Plan: pure Column expressions, zero shuffles, no Python.  Spark's
    higher-order-function lambdas are interpreted (outside whole-stage
    codegen), so the naive per-distinct-char counting — O(len × distinct)
    lambda evals — costs seconds per few thousand docs; instead the
    entropy folds ONCE over the sorted char array via the identity
    H = log2(n) - (1/n)·Σ c·log2(c), accumulating run lengths — O(len)
    lambda evals plus a native (non-lambda) sort, measured ~8x faster.
    Embarrassingly parallel at any corpus size."""

    def _transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.get_("inputCol"))
        # split('', '') yields [''] — drop it so empty text scores (0, 0)
        chars = F.array_sort(F.array_remove(F.split(text, ""), ""))
        n = F.size(chars)

        def clog2c(r):
            return F.when(r > 0, r.cast("double")
                          * F.log2(r.cast("double"))).otherwise(0.0)

        acc0 = F.struct(F.lit("").alias("p"),
                        F.lit(0).cast("long").alias("r"),
                        F.lit(0.0).alias("s"))
        sum_clogc = F.aggregate(
            chars, acc0,
            lambda a, x: F.when(
                x == a["p"],
                F.struct(a["p"].alias("p"), (a["r"] + 1).alias("r"),
                         a["s"].alias("s")))
            .otherwise(F.struct(x.alias("p"),
                                F.lit(1).cast("long").alias("r"),
                                (a["s"] + clog2c(a["r"])).alias("s"))),
            lambda a: a["s"] + clog2c(a["r"]))
        ent = F.log2(n.cast("double")) - sum_clogc / n
        return (df.withColumn("char_entropy",
                              F.when(n > 0, ent).otherwise(0.0))
                .withColumn("distinct_char_ratio",
                            F.when(n > 0, F.size(F.array_distinct(chars))
                                   .cast("double") / n).otherwise(0.0)))

    def transform_local(self, pdf):
        import math
        from collections import Counter
        ents, ratios = [], []
        for text in pdf[self.get_("inputCol")]:
            t = text or ""
            if not t:
                ents.append(0.0)
                ratios.append(0.0)
                continue
            n = len(t)
            counts = Counter(t)
            ents.append(-sum((c / n) * math.log2(c / n)
                             for c in counts.values()))
            ratios.append(len(counts) / n)
        out = pdf.copy()
        out["char_entropy"] = ents
        out["distinct_char_ratio"] = ratios
        return out


class TokenCounter(Transformer, HasInputCol):
    """Token accounting: whitespace tokens plus a BPE-ish subword estimate
    (regex word-pieces: runs of letters, digits, or single punctuation —
    the public GPT-2 pre-tokenizer shape)."""

    def _transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.get_("inputCol"))
        ws = F.size(_tokens(text))
        pieces = F.regexp_extract_all(
            F.lower(text), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"), 0)
        return (df.withColumn("n_tokens_ws", ws)
                .withColumn("n_tokens_bpe", F.size(pieces)))

    def transform_local(self, pdf):
        import re
        # Java \s is ASCII-only; Python's would additionally swallow
        # U+00A0 etc., diverging n_tokens_bpe from the cluster path
        bpe = re.compile("[a-z]+|[0-9]|[^a-z0-9 \t\n\x0b\f\r]")
        out = pdf.copy()
        texts = [t or "" for t in pdf[self.get_("inputCol")]]
        out["n_tokens_ws"] = [len(_local_tokens(t)) for t in texts]
        out["n_tokens_bpe"] = [len(bpe.findall(t.lower())) for t in texts]
        return out


class NGramProfiler(AlgoOperator, HasInputCol):
    """Corpus-level n-gram heavy hitters: document frequency of every
    word n-gram (distinct within a document), top ``k`` — how you FIND
    the boilerplate that LineDeduplicator / dedup caps then remove.

    Plan: shingle explode → groupBy count with map-side combine → the
    top-k pushed into TakeOrderedAndProject (ties broken by n-gram text
    ascending, so the cut is deterministic).  Only (n-gram, count) pairs
    cross the shuffle; the result is k rows regardless of corpus size.
    """

    n = IntParam("n", "Words per n-gram.", 5, ParamValidators.gt(0))
    k = IntParam("k", "Heavy hitters to keep.", 50, ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        from .dedup import shingles
        grams = df.select(F.explode(
            shingles(F.col(self.get_("inputCol")), self.get_("n")))
            .alias("ngram"))
        out = (grams.groupBy("ngram").agg(F.count("*").alias("doc_freq"))
               .orderBy(F.col("doc_freq").desc(), F.col("ngram"))
               .limit(self.get_("k")))
        return [out]


class TokenDriftProfiler(AlgoOperator, HasInputCol):
    """Corpus token-distribution drift between two snapshots — the
    monitoring counterpart to SnapshotDiff: where SnapshotDiff reports
    WHICH documents changed, this reports WHAT the change did to the
    token distribution the model trains on.  ``transform(old, new)``
    estimates add-``smoothing`` smoothed unigram distributions over the
    union vocabulary and emits the top ``k`` tokens by their Jeffreys
    (symmetrized-KL) divergence contribution
    ``j_term = (p_new−p_old)·ln(p_new/p_old)`` — symmetric because the
    one-sided KL(new‖old) term ``p_new·ln(p_new/p_old)`` underweights
    VANISHED tokens (tiny p_new shrinks the term), and a drift monitor
    must surface disappearance as loudly as flooding.  ``log_ratio =
    ln(p_new/p_old)`` carries the direction (positive = flooding,
    negative = vanishing); ordering is deterministic (j desc, token
    asc).

    Plan: ONE token-count shuffle — both snapshots explode into a
    side-tagged union and a single groupBy(token) computes both counts
    with map-side partial aggregation; the three scalars (totals + union
    vocab size) come from one agg over the persisted counts, and the
    top-k pushes into TakeOrderedAndProject.  k rows leave the cluster
    regardless of corpus size.
    """

    k = IntParam("k", "Drift tokens to keep.", 50, ParamValidators.gt(0))
    smoothing = FloatParam("smoothing", "Add-a smoothing per token.", 0.5,
                           ParamValidators.gt(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        old, new = inputs
        a = float(self.get_("smoothing"))
        col = self.get_("inputCol")

        def toks(df: DataFrame, tag: int) -> DataFrame:
            return df.select(F.explode(_tokens(F.col(col))).alias("token"),
                             F.lit(tag).alias("side"))

        cnt = (toks(old, 0).unionAll(toks(new, 1))
               .groupBy("token")
               .agg(F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
                    .alias("n_old"),
                    F.sum("side").alias("n_new"))
               .persist())
        try:
            t_old, t_new, vocab = cnt.agg(
                F.sum("n_old"), F.sum("n_new"), F.count("*")).first()
            t_old, t_new, vocab = int(t_old or 0), int(t_new or 0), int(vocab or 0)
            p_old = (F.col("n_old") + a) / float(t_old + a * vocab)
            p_new = (F.col("n_new") + a) / float(t_new + a * vocab)
            out = (cnt.withColumn("p_old", p_old)
                   .withColumn("p_new", p_new)
                   .withColumn("log_ratio",
                               F.log(F.col("p_new") / F.col("p_old")))
                   .withColumn("j_term",
                               (F.col("p_new") - F.col("p_old"))
                               * F.col("log_ratio"))
                   .orderBy(F.col("j_term").desc(), "token")
                   .limit(self.get_("k")))
            rows = out.collect()
        finally:
            cnt.unpersist()
        spark = old.sparkSession
        return [spark.createDataFrame(rows, schema=out.schema)]


class UnigramLMScorer(Estimator, HasInputCol, HasOutputCol):
    """CCNet-style language-model quality scoring (public literature:
    Wenzek et al. 2020 §4.3 — perplexity under a corpus LM ranks
    documents head/middle/tail), self-contained with a unigram model:
    fit counts tokens over the corpus and keeps the top ``vocabSize`` by
    (count desc, token asc — deterministic boundary), transform scores
    each document by its mean add-one-smoothed log-probability
    ln((c+1)/(T+V+1)), OOV = ln(1/(T+V+1)).

    fit = one explode + count aggregation with the top-k pushed into
    TakeOrderedAndProject; the fitted vocab is model-sized and rides to
    executors inside the Arrow-vectorized scoring UDF — scoring is
    zero-shuffle at any corpus size.
    """

    vocabSize = IntParam("vocabSize", "Max vocabulary size.", 50_000,
                         ParamValidators.gt(0))

    def fit(self, *inputs: DataFrame) -> "UnigramLMScorerModel":
        (df,) = inputs
        toks = df.select(F.explode(_tokens(F.col(self.get_("inputCol"))))
                         .alias("t"))
        # persist the aggregated counts so the totals probe and the top-k
        # vocab collect don't each re-run the corpus tokenize+explode
        # (the IDF.fit lesson: two actions over an uncached UDF/explode
        # input double the dominant fit cost)
        cnt = toks.groupBy("t").count().persist()
        try:
            total, distinct = cnt.agg(
                F.sum("count"), F.count("*")).first()
            rows = (cnt.orderBy(F.col("count").desc(), F.col("t"))
                    .limit(self.get_("vocabSize")).collect())
        finally:
            cnt.unpersist()
        model = UnigramLMScorerModel()
        model.set_(inputCol=self.get_("inputCol"),
                   outputCol=self.get_("outputCol"))
        model.model_data = {
            "counts": {r["t"]: int(r["count"]) for r in rows},
            "total": int(total or 0),
            "vocab": int(min(distinct or 0, self.get_("vocabSize"))),
        }
        return model


class UnigramLMScorerModel(Model, HasInputCol, HasOutputCol):
    def _log_probs(self):
        import math
        d = self.model_data
        denom = math.log(d["total"] + d["vocab"] + 1)
        lp = {t: math.log(c + 1) - denom for t, c in d["counts"].items()}
        return lp, -denom  # (in-vocab log-probs, OOV log-prob)

    def _score_series(self, texts):
        lp, oov = self._log_probs()
        out = []
        for t in texts:
            toks = _local_tokens(t)
            out.append(sum(lp.get(x, oov) for x in toks) / len(toks)
                       if toks else 0.0)
        return out

    def _transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        score_series = self._score_series

        def score(texts):
            return pd.Series(score_series(texts))

        # set hints dynamically: `from __future__ import annotations`
        # stringifies static ones, which pandas_udf can't resolve here
        score.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        score = pandas_udf(score, "double")
        return df.withColumn(self.get_("outputCol"),
                             score(F.col(self.get_("inputCol"))))

    def transform_local(self, pdf):
        out = pdf.copy()
        out[self.get_("outputCol")] = self._score_series(
            pdf[self.get_("inputCol")])
        return out


class BigramLMScorer(Estimator, HasInputCol, HasOutputCol):
    """Interpolated bigram corpus-LM quality scoring — the CCNet recipe
    (Wenzek et al. 2020 §4.3) one order up from UnigramLMScorer, with
    Jelinek-Mercer interpolation (public literature: Jelinek & Mercer
    1980): for positions i>0,
    ``p(t_i|t_{i-1}) = lam * c(t_{i-1},t_i)/c(t_{i-1},·) + (1-lam) *
    p_uni(t_i)``, where p_uni is the add-one-smoothed unigram of
    UnigramLMScorer and the bigram term is 0 for pairs outside the
    stored top ``bigramSize``; the first token scores by p_uni alone.
    Document score = mean ln p over its tokens (0.0 for empty docs).

    fit = ONE tokenize pass: unigram and bigram occurrences explode into
    a single typed key relation and aggregate in one shuffle; the top-k
    selections (count desc, key asc — deterministic boundaries) and the
    bigram-context totals read the persisted counts.  The fitted tables
    are model-sized and ride to executors inside the Arrow scoring UDF —
    scoring is zero-shuffle at any corpus size.
    """

    vocabSize = IntParam("vocabSize", "Max unigram vocabulary.", 50_000,
                         ParamValidators.gt(0))
    bigramSize = IntParam("bigramSize", "Max stored bigrams.", 200_000,
                          ParamValidators.gt(0))
    interpolation = FloatParam(
        "interpolation", "Weight of the bigram term (1-weight goes to the "
        "unigram backoff; strictly < 1, else unseen bigrams hit ln 0).",
        0.7, ParamValidators.in_range(0, 1, upper_inclusive=False))

    def fit(self, *inputs: DataFrame) -> "BigramLMScorerModel":
        (df,) = inputs
        struct_t = "array<struct<typ:int,a:string,b:string>>"
        toks = df.select(_tokens(F.col(self.get_("inputCol"))).alias("ts"))
        uni = F.transform("ts", lambda t: F.struct(
            F.lit(0).alias("typ"), t.alias("a"), F.lit("").alias("b")))
        big = F.when(F.size("ts") >= 2, F.zip_with(
            F.slice("ts", 1, F.size("ts") - 1),
            F.slice("ts", 2, F.size("ts") - 1),
            lambda a, b: F.struct(F.lit(1).alias("typ"), a.alias("a"),
                                  b.alias("b")))
        ).otherwise(F.lit(None).cast(struct_t))
        keyed = (toks.select(F.explode(
            F.concat(uni.cast(struct_t), F.coalesce(big, F.array().cast(struct_t))))
            .alias("k")).select("k.typ", "k.a", "k.b"))
        cnt = keyed.groupBy("typ", "a", "b").count().persist()
        try:
            u = cnt.filter(F.col("typ") == 0)
            total, distinct = u.agg(F.sum("count"), F.count("*")).first()
            vocab_rows = (u.orderBy(F.col("count").desc(), F.col("a"))
                          .limit(self.get_("vocabSize"))
                          .select("a", "count").collect())
            bg = cnt.filter(F.col("typ") == 1)
            ctx = bg.groupBy("a").agg(F.sum("count").alias("ctx"))
            bg_rows = (bg.orderBy(F.col("count").desc(), F.col("a"),
                                  F.col("b"))
                       .limit(self.get_("bigramSize"))
                       .join(ctx, "a")
                       .select("a", "b", "count", "ctx").collect())
        finally:
            cnt.unpersist()
        model = BigramLMScorerModel()
        model.set_(inputCol=self.get_("inputCol"),
                   outputCol=self.get_("outputCol"),
                   interpolation=self.get_("interpolation"))
        model.model_data = {
            "counts": {r["a"]: int(r["count"]) for r in vocab_rows},
            "total": int(total or 0),
            "vocab": int(min(distinct or 0, self.get_("vocabSize"))),
            "bg_a": [r["a"] for r in bg_rows],
            "bg_b": [r["b"] for r in bg_rows],
            "bg_c": [int(r["count"]) for r in bg_rows],
            "bg_ctx": [int(r["ctx"]) for r in bg_rows],
        }
        return model


class BigramLMScorerModel(Model, HasInputCol, HasOutputCol):
    interpolation = FloatParam(
        "interpolation", "Weight of the bigram term.", 0.7,
        ParamValidators.in_range(0, 1, upper_inclusive=False))

    def _tables(self):
        d = self.model_data
        denom = d["total"] + d["vocab"] + 1
        uni = {t: (c + 1) / denom for t, c in d["counts"].items()}
        bg = {(a, b): c / x for a, b, c, x in
              zip(d["bg_a"], d["bg_b"], d["bg_c"], d["bg_ctx"])}
        return uni, 1.0 / denom, bg

    def _make_scorer(self):
        """Resolve params/model DRIVER-side into a pure closure: param
        lookups are keyed by Param object identity, which does not
        survive pickling to Python workers."""
        import math
        lam = self.get_("interpolation")
        uni, oov, bg = self._tables()

        def score_list(texts):
            out = []
            for t in texts:
                toks = _local_tokens(t)
                if not toks:
                    out.append(0.0)
                    continue
                s = math.log(uni.get(toks[0], oov))
                for prev, cur in zip(toks, toks[1:]):
                    s += math.log(lam * bg.get((prev, cur), 0.0)
                                  + (1 - lam) * uni.get(cur, oov))
                out.append(s / len(toks))
            return out
        return score_list

    def _score_series(self, texts):
        return self._make_scorer()(texts)

    def _transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        score_list = self._make_scorer()

        def score(texts):
            return pd.Series(score_list(texts))

        score.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        score = pandas_udf(score, "double")
        return df.withColumn(self.get_("outputCol"),
                             score(F.col(self.get_("inputCol"))))

    def transform_local(self, pdf):
        out = pdf.copy()
        out[self.get_("outputCol")] = self._score_series(
            pdf[self.get_("inputCol")])
        return out


# the Gopher rule thresholds and required-stopword set are from the
# published paper (Rae et al. 2021, "Scaling Language Models", App. A1.1)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


class GopherQualityFilter(Transformer, HasInputCol):
    """Gopher/C4-style document-level heuristic filter (public
    literature: Rae et al. 2021 App. A1.1; Raffel et al. 2020 §2.2) as
    pure Column expressions — zero-shuffle, whole-stage-codegen row
    filtering, the first gate of every at-scale corpus pipeline.

    Emits one boolean per rule plus the conjunction ``keep``:
    word count in [minWords, maxWords]; mean word length in
    [minMeanWordLen, maxMeanWordLen]; '#'/ellipsis symbol-to-word ratio
    <= maxSymbolWordRatio; <= maxBulletLineRatio of lines starting with
    a bullet; <= maxEllipsisLineRatio of lines ending with an ellipsis;
    >= minAlphaWordRatio of words containing a letter; and at least
    minRequiredStopwords distinct members of the required-stopword set
    present."""

    minWords = IntParam("minWords", "Minimum word count.", 50)
    maxWords = IntParam("maxWords", "Maximum word count.", 100_000)
    minMeanWordLen = FloatParam("minMeanWordLen", "Min mean word length.", 3.0)
    maxMeanWordLen = FloatParam("maxMeanWordLen", "Max mean word length.", 10.0)
    maxSymbolWordRatio = FloatParam(
        "maxSymbolWordRatio", "Max '#'/'...' symbols per word.", 0.1)
    maxBulletLineRatio = FloatParam(
        "maxBulletLineRatio", "Max fraction of bullet-led lines.", 0.9)
    maxEllipsisLineRatio = FloatParam(
        "maxEllipsisLineRatio", "Max fraction of ellipsis-ended lines.", 0.3)
    minAlphaWordRatio = FloatParam(
        "minAlphaWordRatio", "Min fraction of words with a letter.", 0.8)
    minRequiredStopwords = IntParam(
        "minRequiredStopwords", "Min distinct required stopwords present.", 2)
    requiredStopwords = StringArrayParam(
        "requiredStopwords", "Required-stopword set.", GOPHER_STOPWORDS)

    def _transform(self, df: DataFrame) -> DataFrame:
        # NULL text behaves as the empty document (local-path parity)
        text = F.coalesce(F.col(self.get_("inputCol")), F.lit(""))
        toks = _tokens(text)
        n = F.size(toks)
        nd = n.cast("double")
        mean_wl = F.when(
            n > 0, F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
            .cast("double") / nd).otherwise(0.0)
        hashes = F.length(text) - F.length(F.replace(text, F.lit("#")))
        ell = ((F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
               + (F.length(text) - F.length(F.replace(text, F.lit("…")))))
        sym_ratio = F.when(n > 0, (hashes + ell).cast("double") / nd) \
            .otherwise(0.0)
        lines = F.split(text, "\n")
        n_lines = F.size(lines).cast("double")
        bullet = F.size(F.filter(
            lines, lambda l: F.ltrim(l).rlike("^[-*•]")))
        ell_end = F.size(F.filter(
            lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")))
        alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        alpha_ratio = F.when(n > 0, alpha.cast("double") / nd).otherwise(0.0)
        stop_hits = sum(
            F.array_contains(toks, w).cast("int")
            for w in self.get_("requiredStopwords"))
        g = self.get_
        rules = {
            "r_word_count": (n >= g("minWords")) & (n <= g("maxWords")),
            "r_mean_word_len": (mean_wl >= g("minMeanWordLen"))
                               & (mean_wl <= g("maxMeanWordLen")),
            "r_symbol_ratio": sym_ratio <= g("maxSymbolWordRatio"),
            "r_bullet_lines": bullet / n_lines <= g("maxBulletLineRatio"),
            "r_ellipsis_lines": ell_end / n_lines <= g("maxEllipsisLineRatio"),
            "r_alpha_words": alpha_ratio >= g("minAlphaWordRatio"),
            "r_stopwords": stop_hits >= g("minRequiredStopwords"),
        }
        out = df.withColumn("n_words", n)
        keep = F.lit(True)
        for name, cond in rules.items():
            out = out.withColumn(name, cond)
            keep = keep & cond
        return out.withColumn("keep", keep)

    def transform_local(self, pdf):
        import re
        g = self.get_
        out = pdf.copy()
        cols: dict[str, list] = {k: [] for k in
                                 ["n_words", "r_word_count", "r_mean_word_len",
                                  "r_symbol_ratio", "r_bullet_lines",
                                  "r_ellipsis_lines", "r_alpha_words",
                                  "r_stopwords", "keep"]}
        req = list(g("requiredStopwords"))
        for text in pdf[self.get_("inputCol")]:
            t = text or ""
            toks = _local_tokens(t)
            n = len(toks)
            mean_wl = (sum(len(x) for x in toks) / n) if n else 0.0
            sym = t.count("#") + t.count("...") + t.count("…")
            lines = t.split("\n")
            nl = len(lines)
            # F.ltrim/F.rtrim strip 0x20 only — match exactly (bare
            # lstrip()/rstrip() would also eat tabs/Unicode whitespace)
            bullet = sum(1 for l in lines
                         if re.match(r"^[-*•]", l.lstrip(" ")))
            ell_end = sum(1 for l in lines
                          if re.search(r"(\.\.\.|…)$", l.rstrip(" ")))
            alpha = sum(1 for x in toks if re.search("[a-z]", x))
            stop_hits = sum(1 for w in req if w in toks)
            r = {
                "r_word_count": g("minWords") <= n <= g("maxWords"),
                "r_mean_word_len": g("minMeanWordLen") <= mean_wl
                                   <= g("maxMeanWordLen"),
                "r_symbol_ratio": (sym / n if n else 0.0)
                                  <= g("maxSymbolWordRatio"),
                "r_bullet_lines": bullet / nl <= g("maxBulletLineRatio"),
                "r_ellipsis_lines": ell_end / nl <= g("maxEllipsisLineRatio"),
                "r_alpha_words": (alpha / n if n else 0.0)
                                 >= g("minAlphaWordRatio"),
                "r_stopwords": stop_hits >= g("minRequiredStopwords"),
            }
            cols["n_words"].append(n)
            for k, v in r.items():
                cols[k].append(bool(v))
            cols["keep"].append(all(r.values()))
        for k, v in cols.items():
            out[k] = v
        return out


class TextNormalizer(Transformer, HasInputCol, HasOutputCol):
    """Canonical text cleanup before hashing/dedup: strip control
    characters, collapse whitespace runs to single spaces, trim, and
    (default) lowercase.  Deterministic regexp chain — pure codegen'd
    Column expressions, no shuffle; normalizing BEFORE MinHash/SimHash
    makes near-dup detection robust to whitespace/case-only variants."""

    lowercase = BoolParam("lowercase", "Lowercase after cleanup.", True)

    def _transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.get_("inputCol"))
        out = F.regexp_replace(text, r"[\x00-\x1F\x7F]", " ")
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
        if self.get_("lowercase"):
            out = F.lower(out)
        return df.withColumn(self.get_("outputCol"), out)

    def transform_local(self, pdf):
        import re
        rows = []
        for text in pdf[self.get_("inputCol")]:
            t = re.sub(r"[\x00-\x1F\x7F]", " ", text or "")
            t = re.sub(r"\s+", " ", t).strip()
            rows.append(t.lower() if self.get_("lowercase") else t)
        out = pdf.copy()
        out[self.get_("outputCol")] = rows
        return out


class RepetitionScorer(Transformer, HasInputCol):
    """Repetition signals from the public Gopher/MassiveText filter family:

    - ``rep_dup_line_frac``: fraction of lines that are duplicates of an
      earlier-seen line value;
    - ``rep_dup_line_char_frac``: fraction of characters sitting in
      duplicated line values;
    - ``rep_top_word_frac`` / ``rep_top_bigram_frac``: fraction of the
      token (bigram) stream covered by the single most frequent token
      (bigram).

    All pure Column expressions — the per-row distinct×occurrence scans
    are O(distinct · n) in the row's own token count, which is the right
    trade for typical web documents; for million-token rows swap in an
    Arrow kernel (np.unique is O(n log n)) — the plan shape (no shuffle,
    no UDF in the default path) is what matters at 100 TB.
    """

    def _transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.get_("inputCol"))
        lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
        n_lines = F.size(lines)
        dlines = F.array_distinct(lines)
        dup_line_frac = F.when(
            n_lines > 0,
            (n_lines - F.size(dlines)).cast("double") / n_lines).otherwise(0.0)
        line_chars = F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l))
        # chars inside line values that occur ≥2 times (all occurrences)
        dup_chars = F.aggregate(
            F.filter(dlines, lambda d: F.size(
                F.filter(lines, lambda l: l == d)) > 1),
            F.lit(0),
            lambda a, d: a + F.length(d) * F.size(
                F.filter(lines, lambda l: l == d)))
        dup_char_frac = F.when(line_chars > 0,
                               dup_chars.cast("double") / line_chars) \
            .otherwise(0.0)

        toks = _tokens(text)
        n_tok = F.size(toks)
        top_word = F.array_max(F.transform(
            F.array_distinct(toks),
            lambda d: F.size(F.filter(toks, lambda t: t == d))))
        top_word_frac = F.when(n_tok > 0,
                               top_word.cast("double") / n_tok).otherwise(0.0)
        # greatest(.., 0): slice() raises on negative length when a
        # document tokenizes to nothing (empty/whitespace-only text)
        m = F.greatest(n_tok - 1, F.lit(0))
        bigrams = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                             lambda x, y: F.concat_ws(" ", x, y))
        top_bi = F.array_max(F.transform(
            F.array_distinct(bigrams),
            lambda d: F.size(F.filter(bigrams, lambda g: g == d))))
        top_bi_frac = F.when(m > 0, top_bi.cast("double") / m).otherwise(0.0)
        return (df.withColumn("rep_dup_line_frac", dup_line_frac)
                .withColumn("rep_dup_line_char_frac", dup_char_frac)
                .withColumn("rep_top_word_frac", top_word_frac)
                .withColumn("rep_top_bigram_frac", top_bi_frac))

    def transform_local(self, pdf):
        from collections import Counter
        cols = {"rep_dup_line_frac": [], "rep_dup_line_char_frac": [],
                "rep_top_word_frac": [], "rep_top_bigram_frac": []}
        for text in pdf[self.get_("inputCol")]:
            t = text or ""
            # Java trim() strips chars <= U+0020 only (not Unicode ws)
            _jtrim = "".join(chr(c) for c in range(0x21))
            lines = [l for l in t.split("\n") if l.strip(_jtrim) != ""]
            n_lines = len(lines)
            lc = Counter(lines)
            dup_line_frac = ((n_lines - len(lc)) / n_lines) if n_lines else 0.0
            line_chars = sum(len(l) for l in lines)
            dup_chars = sum(len(d) * c for d, c in lc.items() if c > 1)
            dup_char_frac = (dup_chars / line_chars) if line_chars else 0.0
            toks = _local_tokens(t)
            n_tok = len(toks)
            top_word_frac = (max(Counter(toks).values()) / n_tok) if n_tok else 0.0
            bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            m = len(bigrams)
            top_bi_frac = (max(Counter(bigrams).values()) / m) if m else 0.0
            cols["rep_dup_line_frac"].append(dup_line_frac)
            cols["rep_dup_line_char_frac"].append(dup_char_frac)
            cols["rep_top_word_frac"].append(top_word_frac)
            cols["rep_top_bigram_frac"].append(top_bi_frac)
        out = pdf.copy()
        for k, v in cols.items():
            out[k] = v
        return out


# redaction patterns: ordered, RE2-safe (work identically under Java regex
# and RE2-style engines — no lookaround, no backreferences)
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{3}[- ]\d{3,4}[- ]\d{4}\b", "<PHONE>"),
]

# card-number candidates: 13-19 digits with optional single space/dash
# separators.  RE2-safe (no lookaround); candidates are then VALIDATED
# with the Luhn checksum, so a random digit run only false-positives at
# the checksum's 10% rate and phone-shaped runs never pre-empt real
# cards (the redactor applies ccnum before phone).
CC_CANDIDATE = r"(?:\d[ -]?){12,18}\d"


def _luhn_valid(cand: Column) -> Column:
    """Luhn checksum over a candidate's digits, as pure Column
    expressions: double every second digit from the RIGHT (0-based
    index i in the L-digit string doubles when (L-1-i) % 2 == 1),
    subtract 9 from two-digit doubles, valid iff the sum % 10 == 0 and
    13 ≤ L ≤ 19."""
    digits = F.regexp_replace(cand, "[^0-9]", "")
    ds = F.array_remove(F.split(digits, ""), "")
    n = F.size(ds)
    terms = F.transform(
        ds, lambda d, i: F.when(
            (n - 1 - i) % 2 == 1,
            F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9)
             .otherwise(d.cast("int") * 2)
        ).otherwise(d.cast("int")))
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return (total % 10 == 0) & n.between(13, 19)


def _luhn_valid_local(cand: str) -> bool:
    ds = [int(c) for c in cand if c.isdigit()]
    if not 13 <= len(ds) <= 19:
        return False
    total = sum(d * 2 - 9 if i % 2 == 1 and d * 2 > 9 else
                d * 2 if i % 2 == 1 else d
                for i, d in enumerate(reversed(ds)))
    return total % 10 == 0


class PIIRedactor(Transformer, HasInputCol, HasOutputCol):
    """Regex PII redaction: emails, IPv4 addresses, phone-shaped digit
    runs → typed placeholder tokens, applied in a fixed order so later
    patterns never re-match inside an earlier replacement.  Adds
    ``pii_<kind>_count`` columns plus the redacted ``outputCol``.  Pure
    codegen'd Column expressions (regexp_count / regexp_replace) — no
    shuffle, no Python.

    ``detectCardNumbers=True`` adds Luhn-VALIDATED card-number redaction
    (``<CCNUM>``, ``pii_ccnum_count``) between email and ipv4/phone —
    before phone because the phone pattern would otherwise eat segments
    of a spaced card number.  Candidates come from one
    ``regexp_extract_all``; only checksum-valid ones redact (a literal
    fold of ``replace`` over the distinct valid candidates), so
    arbitrary digit runs survive.  Still expression-only."""

    detectCardNumbers = BoolParam(
        "detectCardNumbers", "Redact Luhn-valid card numbers.", False)

    def _transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.get_("inputCol"))
        out = text
        counts = {}
        for kind, pat, token in PII_PATTERNS:
            counts[kind] = F.regexp_count(out, F.lit(pat))
            out = F.regexp_replace(out, pat, token)
            if kind == "email" and self.get_("detectCardNumbers"):
                cands = F.regexp_extract_all(out, F.lit(CC_CANDIDATE), 0)
                valid = F.filter(cands, _luhn_valid)
                counts["ccnum"] = F.size(valid)
                out = F.aggregate(
                    F.array_distinct(valid), out,
                    lambda acc, c: F.replace(acc, c, F.lit("<CCNUM>")))
        for kind, c in counts.items():
            df = df.withColumn(f"pii_{kind}_count", c)
        return df.withColumn(self.get_("outputCol"), out)

    def transform_local(self, pdf):
        import re
        out = pdf.copy()
        texts = [t or "" for t in pdf[self.get_("inputCol")]]
        cc_rx = re.compile(CC_CANDIDATE)
        for kind, pat, token in PII_PATTERNS:
            rx = re.compile(pat)
            out[f"pii_{kind}_count"] = [len(rx.findall(t)) for t in texts]
            texts = [rx.sub(token, t) for t in texts]
            if kind == "email" and self.get_("detectCardNumbers"):
                ccc = []
                for j, t in enumerate(texts):
                    valid = [c for c in cc_rx.findall(t)
                             if _luhn_valid_local(c)]
                    ccc.append(len(valid))
                    for c in dict.fromkeys(valid):
                        t = t.replace(c, "<CCNUM>")
                    texts[j] = t
                out["pii_ccnum_count"] = ccc
        out[self.get_("outputCol")] = texts
        return out


class Bm25Scorer(Estimator, HasInputCol, HasOutputCol):
    """BM25 relevance of each document to a fixed seed-term set — the
    standard importance-sampling signal for corpus curation (score against
    a seed query drawn from the target domain, keep the top mass; public
    CCNet/DSIR family).

    ``fit`` runs ONE aggregation job over the corpus producing only
    fixed-size state: row count N, average document length, and one
    document frequency per query term (``sum(array_contains)`` — map-side
    combined, never a per-doc shuffle).  The model scores rows with pure
    codegen'd Column expressions: per term t,

        idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
        idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))

    (Robertson/Sparck-Jones BM25+). idf constants fold at plan time, so
    scoring is zero-shuffle and scales embarrassingly at 100 TB.
    """

    queryTerms = StringArrayParam("queryTerms", "Seed query terms.", [])
    k1 = FloatParam("k1", "Term-frequency saturation.", 1.2)
    b = FloatParam("b", "Length normalization strength.", 0.75)

    def fit(self, *inputs: DataFrame) -> "Bm25ScorerModel":
        (df,) = inputs
        toks = _tokens(F.col(self.get_("inputCol")))
        terms = list(dict.fromkeys(self.get_("queryTerms") or []))
        aggs = [F.count(F.lit(1)).alias("__n"),
                F.avg(F.size(toks)).alias("__avgdl")]
        aggs += [F.sum(F.array_contains(toks, t).cast("long")).alias(f"__df{i}")
                 for i, t in enumerate(terms)]
        row = df.agg(*aggs).first()
        model = Bm25ScorerModel(
            inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"),
            k1=self.get_("k1"), b=self.get_("b"))
        model.model_data = {
            "terms": terms,
            "docFreq": [int(row[f"__df{i}"]) for i in range(len(terms))],
            "numDocs": int(row["__n"]),
            "avgDocLen": float(row["__avgdl"] or 0.0)}
        return model


class Bm25ScorerModel(Model, HasInputCol, HasOutputCol):
    k1 = FloatParam("k1", "Term-frequency saturation.", 1.2)
    b = FloatParam("b", "Length normalization strength.", 0.75)

    def _transform(self, df: DataFrame) -> DataFrame:
        import math
        toks = _tokens(F.col(self.get_("inputCol")))
        dl = F.size(toks).cast("double")
        k1, b = self.get_("k1"), self.get_("b")
        n = self.model_data["numDocs"]
        avgdl = self.model_data["avgDocLen"]
        score: Column = F.lit(0.0)
        if avgdl > 0:
            norm = F.lit(k1) * (1.0 - b + F.lit(b) * dl / avgdl)

            def _eq(term: str):
                return lambda x: x == F.lit(term)

            for t, dft in zip(self.model_data["terms"],
                              self.model_data["docFreq"]):
                idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
                tf = F.size(F.filter(toks, _eq(t))).cast("double")
                score = score + F.when(
                    tf > 0, F.lit(idf) * tf * (k1 + 1.0) / (tf + norm)) \
                    .otherwise(0.0)
        return df.withColumn(self.get_("outputCol"), score)

    def transform_local(self, pdf):
        """Cluster-free (servable) scoring over a pandas frame."""
        import math
        import numpy as np
        k1, b = self.get_("k1"), self.get_("b")
        n, avgdl = self.model_data["numDocs"], self.model_data["avgDocLen"]
        out = pdf.copy()
        scores = np.zeros(len(pdf))
        if avgdl > 0:
            toks = [([t for t in str(s).lower().split() if t])
                    for s in pdf[self.get_("inputCol")]]
            dls = np.array([len(t) for t in toks], dtype=float)
            norm = k1 * (1.0 - b + b * dls / avgdl)
            for t, dft in zip(self.model_data["terms"],
                              self.model_data["docFreq"]):
                idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
                tf = np.array([tk.count(t) for tk in toks], dtype=float)
                with np.errstate(invalid="ignore", divide="ignore"):
                    contrib = np.where(tf > 0,
                                       idf * tf * (k1 + 1.0) / (tf + norm),
                                       0.0)
                scores += contrib
        out[self.get_("outputCol")] = scores
        return out


class Bm25Retriever(AlgoOperator):
    """Sparse-retrieval top-k JOIN: for a TABLE of queries, the ``k``
    best documents each by Okapi BM25 — the sparse counterpart to the
    ANN operators (BruteForceKNNJoin / IVF), and the standard first
    stage of retrieval pipelines (seed-corpus expansion, RAG passage
    retrieval, eval-set mining).  Where ``Bm25Scorer`` scores the corpus
    against ONE fixed seed query, this joins corpus × query-set through
    an inverted index, never a cross join.

    ``transform(corpus, queries)`` → ``(query-id col, doc-id col,
    score, rank)`` with rank 1..k per query.

    Plan (all relational, one logical pass each):
      1. corpus stats — ONE agg (N, avgdl): two driver scalars;
      2. postings — explode corpus tokens, ONE groupBy (token, doc) for
         tf (map-side combined); per-token df derives from the postings
         relation (second agg over already-reduced data);
      3. the retrieval join — postings ⋈ distinct query terms on token.
         The query side is broadcast (query sets are model-sized next
         to a corpus), so the corpus-sized postings never reshuffle for
         the join; ``maxDocFreq`` drops tokens whose postings list
         exceeds the cap BEFORE the join (the impact-sorted-index
         trick: a stopword in one query must not pull a billion-row
         postings list — and its idf ≈ 0 contribution is exactly the
         mass BM25 already ignores);
      4. per-(query, doc) score — ONE groupBy sum;
      5. exact top-k per query (``top_k_per_key``: a partial
         window-group limit before the shuffle, hot-query safe).

    ``scoreRounding`` (decimals) snaps scores before ranking — summation
    order across partitions can move the last ulp, and two docs with the
    SAME term profile must rank as a true tie broken by doc id, in any
    engine (the learners' weightRounding pattern).
    """

    idCol = StringParam("idCol", "Corpus document id column.", "doc_id")
    textCol = StringParam("textCol", "Corpus text column.", "text")
    queryIdCol = StringParam("queryIdCol", "Query id column.", "query_id")
    queryTextCol = StringParam("queryTextCol", "Query text column.",
                               "query_text")
    k = IntParam("k", "Documents to return per query.", 10,
                 ParamValidators.gt(0))
    k1 = FloatParam("k1", "Term-frequency saturation.", 1.2)
    b = FloatParam("b", "Length normalization strength.", 0.75)
    maxDocFreq = IntParam(
        "maxDocFreq", "Drop tokens with document frequency above this "
        "from the index (None = keep all) — bounds the postings a "
        "stopword query term can pull into the join.", None,
        lambda v: v is None or v > 0)
    scoreRounding = IntParam(
        "scoreRounding", "Round scores to this many decimals before "
        "ranking (None = raw) so cross-partition sum order cannot flip "
        "true ties; ties break by doc id.", None,
        lambda v: v is None or v >= 0)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        corpus, queries = inputs
        idc, txt = self.get_("idCol"), self.get_("textCol")
        # r10: (N, avgdl) ride as a scalar subquery inside the single
        # query action instead of an eager driver agg —
        # transform() launches ZERO jobs, and the separate stats pass
        # over the corpus (a full tokenize) disappears; the score
        # arithmetic is unchanged (same doubles, now from columns).
        # The empty-corpus early-out is subsumed: no postings ⇒ no
        # scored rows, and avgdl only ever divides posting rows.
        toks = _tokens(F.coalesce(F.col(txt), F.lit("")))
        stats = corpus.agg(
            F.count(F.lit(1)).alias("__bm25_n__"),
            F.avg(F.size(toks)).alias("__bm25_avgdl__"))
        postings = (corpus
                    .select(F.col(idc), F.size(toks).alias("dl"),
                            F.explode(toks).alias("tok"))
                    .groupBy("tok", idc, "dl")
                    .agg(F.count(F.lit(1)).alias("tf")))
        token_stats = postings.groupBy("tok") \
            .agg(F.count(F.lit(1)).alias("df"))
        if self.get_("maxDocFreq") is not None:
            token_stats = token_stats.filter(
                F.col("df") <= self.get_("maxDocFreq"))
        return [_bm25_query(
            postings, token_stats, 0, 0.0, queries,
            idc, self.get_("queryIdCol"), self.get_("queryTextCol"),
            float(self.get_("k1")), float(self.get_("b")),
            int(self.get_("k")), self.get_("scoreRounding"),
            stats_df=stats)]


def _bm25_build_index(corpus: DataFrame, idc: str, txt: str,
                      max_doc_freq, max_postings_per_token=None):
    """One stats agg + one postings groupBy → (n, avgdl, postings
    relation (tok, id, dl, tf), token-stats relation (tok, df)).
    The store is NORMALIZED: df lives only in the vocab-sized
    token-stats relation, never on posting rows — so incremental
    ingest (Bm25IndexModel.update) appends batch postings without
    touching existing ones, and idf folds in at query time exactly
    like dl norms do.  maxDocFreq filters TOKEN-STATS (the query join
    is inner through it, so an over-cap token can never pull its
    postings into the retrieval join).

    ``max_postings_per_token`` applies static impact pruning (the
    WAND-family index trick): keep only the P highest-impact postings
    per token, ranked by the token's full BM25 partial (tf AND length
    norm, not raw tf — a tf-3 posting in a 10k-token document is weaker
    than a tf-2 posting in a 40-token one), ties by doc id.  df is
    computed BEFORE pruning so idf stays the true corpus statistic; the
    cut is ``top_k_per_key``, whose partial window-group limit prunes a
    stopword's postings list per map partition before the shuffle (for
    P > 1000 the list sorts in one task)."""
    toks = _tokens(F.coalesce(F.col(txt), F.lit("")))
    stats = corpus.agg(F.count(F.lit(1)).alias("n"),
                       F.avg(F.size(toks)).alias("avgdl")).first()
    n, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if n == 0 or avgdl <= 0:
        return n, avgdl, None, None
    postings = (corpus
                .select(F.col(idc), F.size(toks).alias("dl"),
                        F.explode(toks).alias("tok"))
                .groupBy("tok", idc, "dl")
                .agg(F.count(F.lit(1)).alias("tf")))
    df_rel = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if max_doc_freq is not None:
        df_rel = df_rel.filter(F.col("df") <= max_doc_freq)
    if max_postings_per_token is not None:
        from ..common.dataflow import top_k_per_key
        # impact ∝ tf/(tf+norm(dl)) with k1=1.2, b=0.75 (idf is
        # per-token constant, so it cannot change the per-token order)
        impact = (F.col("tf").cast("double")
                  / (F.col("tf") + 1.2 * (0.25 + 0.75
                                          * F.col("dl").cast("double")
                                          / avgdl)))
        postings = top_k_per_key(
            postings.withColumn("__imp__", impact), ["tok"],
            [F.col("__imp__").desc(), F.col(idc)],
            int(max_postings_per_token)) \
            .drop("__imp__")
    return n, avgdl, postings, df_rel


def _bm25_query(postings, token_stats, n: int, avgdl: float,
                queries: DataFrame, idc: str, qid: str, qtxt: str,
                k1: float, b: float, k: int, score_rounding,
                stats_df: DataFrame | None = None) -> DataFrame:
    """Broadcast query-term join + score groupBy + exact top-k
    over a normalized (postings, token-stats) index.  df for the query
    terms comes from ONE broadcast-filtered pass over the vocab-sized
    token-stats relation — the corpus-sized postings see a single
    broadcast hash join, no reshuffle.  With ``stats_df`` (a one-row
    (__bm25_n__, __bm25_avgdl__) relation), N and avgdl fold in as a
    scalar subquery inside the same action instead of pre-computed
    scalars — same doubles, no driver stats job."""
    spark = queries.sparkSession
    if postings is None:
        return spark.createDataFrame(
            [], f"{qid} long, {idc} long, score double, rank int")
    qterms = (queries
              .select(F.col(qid), F.explode(F.array_distinct(
                  _tokens(F.coalesce(F.col(qtxt), F.lit("")))))
                  .alias("tok"))
              .distinct())
    # (tok, df) for just the query vocabulary: token_stats is scanned
    # once with the tiny term set broadcast into it, and the tiny
    # result re-broadcasts into the postings join
    qtok_df = token_stats.join(
        F.broadcast(qterms.select("tok").distinct()), "tok")
    qjoin = qterms.join(qtok_df, "tok")
    if stats_df is not None:
        # one uncorrelated scalar subquery of a (N, avgdl) struct: the
        # plan runs it once and reuses it for both fields, where a
        # cross join of the one-row relation became a nested-loop join
        st = stats_df.select(F.struct("__bm25_n__", "__bm25_avgdl__")).scalar()
        n_e = st["__bm25_n__"].cast("double")
        avgdl_e = st["__bm25_avgdl__"]
    else:
        n_e, avgdl_e = F.lit(float(n)), F.lit(avgdl)
    idf = F.log(F.lit(1.0) + (n_e - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.lit(k1) * (1.0 - b + F.lit(b)
                        * F.col("dl").cast("double") / avgdl_e)
    contrib = (idf * F.col("tf").cast("double") * (k1 + 1.0)
               / (F.col("tf").cast("double") + norm))
    scored = (postings.join(F.broadcast(qjoin), "tok")
              .groupBy(qid, idc)
              .agg(F.sum(contrib).alias("score")))
    if score_rounding is not None:
        scored = scored.withColumn("score",
                                   F.round("score", int(score_rounding)))
    from ..common.dataflow import top_k_per_key
    out = top_k_per_key(
        scored, [qid], [F.col("score").desc(), F.col(idc)],
        k, rank_col="rank")
    return out.select(qid, idc, "score", "rank")


class Bm25Index(Estimator):
    """The fit/query split of ``Bm25Retriever`` — build the inverted
    index ONCE (the corpus-sized work: stats agg + postings groupBy),
    then serve any number of query batches against it.  ``fit`` returns
    a ``Bm25IndexModel`` whose model data is the postings RELATION
    (table-shaped model state, the reference's Model.getModelData
    contract — cf. KnnModel); ``save`` persists it as parquet so a
    reloaded index never re-tokenizes the corpus."""

    idCol = StringParam("idCol", "Corpus document id column.", "doc_id")
    textCol = StringParam("textCol", "Corpus text column.", "text")
    maxDocFreq = IntParam(
        "maxDocFreq", "Drop tokens above this document frequency from "
        "the index (None = keep all).", None, lambda v: v is None or v > 0)
    maxPostingsPerToken = IntParam(
        "maxPostingsPerToken", "Static impact pruning: keep only the P "
        "highest-impact postings per token (None = keep all) — bounds "
        "index size and query fan-out; recall beyond the strongest P "
        "candidates per term is explicitly traded away.", None,
        lambda v: v is None or v > 0)

    def fit(self, *inputs: DataFrame) -> "Bm25IndexModel":
        (corpus,) = inputs
        n, avgdl, postings, token_stats = _bm25_build_index(
            corpus, self.get_("idCol"), self.get_("textCol"),
            self.get_("maxDocFreq"), self.get_("maxPostingsPerToken"))
        model = Bm25IndexModel(idCol=self.get_("idCol"),
                               textCol=self.get_("textCol"))
        model.model_data = {
            "numDocs": n, "avgDocLen": avgdl,
            # update() forbids pruned indexes; record the fact so a
            # violating update errors instead of silently corrupting df
            "pruned": (self.get_("maxDocFreq") is not None
                       or self.get_("maxPostingsPerToken") is not None)}
        model.postings = postings
        model.token_stats = token_stats
        return model


class Bm25IndexModel(Model):
    """Query side of the persisted BM25 index: ``transform(queries)`` →
    (queryIdCol, idCol, score, rank).  Scoring joins the model-held
    postings relation against the broadcast query terms — identical
    math (and outputs, parity-tested) to ``Bm25Retriever``."""

    idCol = StringParam("idCol", "Corpus document id column.", "doc_id")
    textCol = StringParam("textCol", "Corpus text column (for update()).",
                          "text")
    queryIdCol = StringParam("queryIdCol", "Query id column.", "query_id")
    queryTextCol = StringParam("queryTextCol", "Query text column.",
                               "query_text")
    k = IntParam("k", "Documents to return per query.", 10,
                 ParamValidators.gt(0))
    k1 = FloatParam("k1", "Term-frequency saturation.", 1.2)
    b = FloatParam("b", "Length normalization strength.", 0.75)
    scoreRounding = IntParam(
        "scoreRounding", "Round scores before ranking (None = raw).",
        None, lambda v: v is None or v >= 0)

    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self.postings: DataFrame | None = None
        self.token_stats: DataFrame | None = None

    def _transform(self, queries: DataFrame) -> DataFrame:
        return _bm25_query(
            self.postings, self.token_stats,
            int(self.model_data["numDocs"]),
            float(self.model_data["avgDocLen"]), queries,
            self.get_("idCol"), self.get_("queryIdCol"),
            self.get_("queryTextCol"), float(self.get_("k1")),
            float(self.get_("b")), int(self.get_("k")),
            self.get_("scoreRounding"))

    def update(self, new_docs: DataFrame) -> "Bm25IndexModel":
        """Incremental APPEND-ONLY ingest: tokenize ONLY the new batch;
        its postings append to the store (the existing postings
        relation is untouched — not re-read, not re-written); df
        re-derives lazily from the unioned postings at query time
        (batch ids are new, so per-token row counts over the union =
        old df + batch delta exactly; each query scans the whole
        postings store twice, once for the token-stats aggregate and
        once for the broadcast score join, which has no exchange on
        postings to share); (numDocs, avgDocLen) merge from
        sufficient statistics.  Per update the eager work is O(batch
        postings) ONLY: df lives in no posting row, so no stored state
        an ingest could invalidate — idf and length norms both fold in
        at query time.  Batch doc ids must be NEW (replace = delete +
        add; deletion unsupported).  Contract: the index must have
        been built WITHOUT maxDocFreq / maxPostingsPerToken pruning
        (pruned-away df cannot be resurrected; prune at query-serving
        rebuilds instead).  The batch postings are localCheckpointed
        (batch-sized materialization) so chained updates never stack
        lineage; ``save`` (parquet) remains the durable checkpoint."""
        if self.model_data.get("pruned"):
            raise ValueError(
                "Bm25IndexModel.update() requires an index built without "
                "maxDocFreq/maxPostingsPerToken (pruned-away postings "
                "cannot be resurrected); rebuild with Bm25Index() and "
                "prune at query-serving rebuilds instead.")
        idc, txt = self.get_("idCol"), self.get_("textCol")
        toks = _tokens(F.coalesce(F.col(txt), F.lit("")))
        s = new_docs.agg(F.count(F.lit(1)).alias("n1"),
                         F.sum(F.size(toks)).alias("s1")).first()
        n1, s1 = int(s["n1"]), int(s["s1"] or 0)
        if n1 == 0:
            return self
        n0 = int(self.model_data["numDocs"])
        avgdl0 = float(self.model_data["avgDocLen"])
        bp = (new_docs
              .select(F.col(idc), F.size(toks).alias("dl"),
                      F.explode(toks).alias("tok"))
              .groupBy("tok", idc, "dl")
              .agg(F.count(F.lit(1)).alias("tf"))
              .localCheckpoint(eager=True))
        self.postings = (bp if self.postings is None
                         else self.postings.unionByName(bp))
        # df derives from the unioned postings AT QUERY TIME instead of
        # an eager vocab merge here (r10, VERDICT item 3): batch doc ids
        # are new, so per-token row counts over the union = old df +
        # batch delta EXACTLY.  Update work is O(batch postings) only;
        # the price is that every later query re-aggregates the whole
        # postings union (its score join is a broadcast hash join with
        # no exchange on postings, so nothing is shared).  An eager merge
        # (old stats + batch df, localCheckpoint) was measured and lost
        # at a 1:1 ingest-to-query ratio: ROADMAP direction 2.
        self.token_stats = (self.postings.groupBy("tok")
                            .agg(F.count(F.lit(1)).alias("df")))
        self.model_data = {
            "numDocs": n0 + n1,
            "avgDocLen": (n0 * avgdl0 + s1) / (n0 + n1),
            "pruned": False}
        return self

    # table-shaped model data: postings + token stats go to parquet
    # (KnnModel pattern)
    def _save_model_data(self, path: str) -> None:
        import os
        if self.postings is not None:
            self.postings.write.mode("overwrite").parquet(
                os.path.join(path, "data"))
            self.token_stats.write.mode("overwrite").parquet(
                os.path.join(path, "tokstats"))

    def _load_model_data(self, spark, path: str) -> None:
        import os
        p = os.path.join(path, "data")
        if os.path.exists(p):
            self.postings = spark.read.parquet(p)
            ts = os.path.join(path, "tokstats")
            if os.path.exists(ts):
                self.token_stats = spark.read.parquet(ts)
            else:
                # index saved by the pre-normalized format (df lived on
                # the posting rows): rebuild the vocab-sized token-stats
                # relation from the postings — one groupBy, loaded once
                self.token_stats = (
                    self.postings.groupBy("tok")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .localCheckpoint(eager=True))

    def get_model_data(self, spark) -> list[DataFrame]:
        stats = super().get_model_data(spark)
        if self.postings is None:
            return stats
        return stats + [self.postings, self.token_stats]

    def set_model_data(self, *tables: DataFrame) -> "Bm25IndexModel":
        # accepts the stats-only tuple an EMPTY index round-trips with
        # (get_model_data returns 1 table before any fit/update)
        if len(tables) == 1:
            super().set_model_data(tables[0])
            return self
        stats, postings, token_stats = tables
        super().set_model_data(stats)
        self.postings = postings
        self.token_stats = token_stats
        return self


class DocumentFingerprinter(Transformer, HasInputCol, HasOutputCol):
    """Order-sensitive rolling-hash fingerprint of the token stream
    (content-defined; equal texts → equal fingerprints, reordered texts
    differ — complements order-insensitive MinHash)."""

    def _transform(self, df: DataFrame) -> DataFrame:
        toks = _tokens(F.col(self.get_("inputCol")))
        hs = F.transform(toks, poly_token_hash)
        fp = F.aggregate(hs, F.lit(0).cast("long"),
                         lambda acc, h: (acc * 1000003 + h) % MINHASH_PRIME)
        return df.withColumn(self.get_("outputCol"), fp)

    def transform_local(self, pdf):
        from .dedup import np_poly_hash
        rows = []
        for text in pdf[self.get_("inputCol")]:
            toks = _local_tokens(text)
            fp = 0
            if toks:
                for h in np_poly_hash(toks):
                    fp = (fp * 1000003 + int(h)) % MINHASH_PRIME
            rows.append(fp)
        out = pdf.copy()
        out[self.get_("outputCol")] = rows
        return out


class KeynessAnalyzer(AlgoOperator, HasInputCol):
    """Corpus comparison by token keyness: the informative-Dirichlet
    log-odds z-scores of Monroe, Colaresi & Quinn 2008 ("Fightin'
    Words") — WHICH tokens distinguish corpus A from corpus B, with the
    variance-stabilized statistic that raw log-odds / PMI lack (rare
    tokens don't dominate).  The standard tool for "what changed between
    these two snapshots / sources" beyond count drift.

      α_w = α0·(y_aw+y_bw)/(n_a+n_b)           (pooled informative prior)
      δ_w = ln[(y_aw+α_w)/(n_a+α0−y_aw−α_w)] − (same for B)
      z_w = δ_w / √(1/(y_aw+α_w) + 1/(y_bw+α_w))

    Plan: one token-count aggregation per side (map-side combine), a
    vocab-keyed full-outer join, closed-form column arithmetic, and the
    top-``k`` by |z| pushed into TakeOrderedAndProject — k rows out at
    any corpus size, driver sees only two scalar totals.
    ``transform(a, b)`` → ``(token, count_a, count_b, z)``, z > 0 ⇒
    A-leaning."""

    alpha0 = FloatParam("alpha0", "Total Dirichlet prior mass α0.", 100.0,
                        ParamValidators.gt(0))
    k = IntParam("k", "Top tokens by |z| to keep.", 50,
                 ParamValidators.gt(0))
    zRounding = IntParam(
        "zRounding", "Round z to this many decimals BEFORE the top-k "
        "ordering (None = raw) — with the token tiebreaker this makes "
        "the k-boundary engine-reproducible (the bm25 scoreRounding "
        "convention; log/sqrt may differ in the last ulp across libms).",
        None, lambda v: v is None or v > 0)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        a, b = inputs
        col = self.get_("inputCol")
        a0 = float(self.get_("alpha0"))

        def counts(df: DataFrame, name: str) -> DataFrame:
            return (df.select(F.explode(_tokens(F.coalesce(
                        F.col(col), F.lit("")))).alias("token"))
                    .groupBy("token").agg(F.count("*").alias(name)))

        ca = counts(a, "count_a")
        cb = counts(b, "count_b")
        joined = (ca.join(cb, "token", "full_outer")
                  .select("token",
                          F.coalesce("count_a", F.lit(0)).alias("count_a"),
                          F.coalesce("count_b", F.lit(0)).alias("count_b")))
        tot = joined.agg(F.sum("count_a"), F.sum("count_b")).first()
        na, nb = float(tot[0] or 0), float(tot[1] or 0)
        if na == 0 or nb == 0:
            raise ValueError("KeynessAnalyzer: both corpora must contain "
                             "at least one token")
        ya = F.col("count_a").cast("double")
        yb = F.col("count_b").cast("double")
        alpha = a0 * (ya + yb) / (na + nb)
        delta = (F.log((ya + alpha) / (na + a0 - ya - alpha))
                 - F.log((yb + alpha) / (nb + a0 - yb - alpha)))
        z = delta / F.sqrt(1.0 / (ya + alpha) + 1.0 / (yb + alpha))
        if self.get_("zRounding") is not None:
            z = F.round(z, int(self.get_("zRounding")))
        out = (joined.withColumn("z", z)
               .orderBy(F.abs(F.col("z")).desc(), F.col("token"))
               .limit(self.get_("k")))
        return [out]
