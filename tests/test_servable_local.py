"""transform_local parity: every feature/classification stage that can
appear in a served pipeline must produce the same outputs pandas-locally
as its distributed transform (reference servable contract,
flink-ml-servable-lib — PipelineModelServable serves WITHOUT an engine,
so each stage needs a row-local path)."""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Row


def _norm(v):
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_norm(x) for x in v]
    if isinstance(v, (float, np.floating)):
        return round(float(v), 9)
    if isinstance(v, (int, np.integer)):
        return int(v)
    return v


def assert_parity(stage, sdf, pdf, out_cols):
    spark_rows = [r.asDict(recursive=True) for r in stage.transform(sdf)[0].collect()]
    local = stage.transform_local(pdf)
    assert len(spark_rows) == len(local)
    for oc in out_cols:
        got = [_norm(v) for v in local[oc]]
        want = [_norm(r[oc]) for r in spark_rows]
        assert got == want, f"column {oc}: {got[:3]} vs {want[:3]}"


NUM_ROWS = [([1.0, -2.0, 3.0],), ([0.5, 0.0, -4.0],), ([2.0, 2.0, 2.0],)]
TOK_ROWS = [(["the", "quick", "brown", "fox"],), (["one", "two"],), ([],)]


@pytest.fixture()
def vec_df(spark):
    return spark.createDataFrame(NUM_ROWS, "v array<double>"), \
        pd.DataFrame({"v": [list(r[0]) for r in NUM_ROWS]})


@pytest.fixture()
def tok_df(spark):
    return spark.createDataFrame(TOK_ROWS, "tokens array<string>"), \
        pd.DataFrame({"tokens": [list(r[0]) for r in TOK_ROWS]})


def test_imputer_missing_value_local(spark):
    """A set missingValue is imputed on the pandas path as in Spark."""
    from flink_ml_spark.feature import Imputer
    rows = [(1, 1.0), (2, -1.0), (3, 3.0), (4, None), (5, float("nan")),
            (6, 5.0)]
    sdf = spark.createDataFrame(rows, "id long, x double")
    model = Imputer(inputCols=["x"], outputCols=["o"],
                    missingValue=-1.0).fit(sdf)
    assert model.model_data["surrogates"] == [3.0]
    assert_parity(model, sdf, pd.DataFrame(rows, columns=["id", "x"]), ["o"])


def test_elementwise_product_local(spark, vec_df):
    from flink_ml_spark.feature import ElementwiseProduct
    sdf, pdf = vec_df
    t = ElementwiseProduct(inputCol="v", outputCol="o", scalingVec=[2.0, 0.5, -1.0])
    assert_parity(t, sdf, pdf, ["o"])


def test_normalizer_local(spark, vec_df):
    from flink_ml_spark.feature import Normalizer
    sdf, pdf = vec_df
    for p in (1.0, 2.0, 3.0):
        assert_parity(Normalizer(inputCol="v", outputCol="o", p=p), sdf, pdf, ["o"])


def test_vector_slicer_local(spark, vec_df):
    from flink_ml_spark.feature import VectorSlicer
    sdf, pdf = vec_df
    assert_parity(VectorSlicer(inputCol="v", outputCol="o", indices=[2, 0]),
                  sdf, pdf, ["o"])


def test_interaction_local(spark):
    from flink_ml_spark.feature import Interaction
    rows = [(2.0, [1.0, 3.0]), (0.5, [4.0, -1.0])]
    sdf = spark.createDataFrame(rows, "a double, b array<double>")
    pdf = pd.DataFrame({"a": [r[0] for r in rows], "b": [list(r[1]) for r in rows]})
    assert_parity(Interaction(inputCols=["a", "b"], outputCol="o"), sdf, pdf, ["o"])


def test_ngram_local(spark, tok_df):
    from flink_ml_spark.feature import NGram
    sdf, pdf = tok_df
    assert_parity(NGram(inputCol="tokens", outputCol="o", n=2), sdf, pdf, ["o"])


def test_binarizer_local(spark, vec_df):
    from flink_ml_spark.feature import Binarizer
    sdf, pdf = vec_df
    assert_parity(Binarizer(inputCols=["v"], outputCols=["o"], thresholds=[0.5]),
                  sdf, pdf, ["o"])


def test_bucketizer_local(spark):
    from flink_ml_spark.feature import Bucketizer
    rows = [(0.1,), (2.5,), (10.0,), (-3.0,)]
    sdf = spark.createDataFrame(rows, "x double")
    pdf = pd.DataFrame({"x": [r[0] for r in rows]})
    b = Bucketizer(inputCols=["x"], outputCols=["o"],
                   splitsArray=[[0.0, 1.0, 5.0, 10.0]], handleInvalid="keep")
    assert_parity(b, sdf, pdf, ["o"])


def test_dct_local(spark, vec_df):
    from flink_ml_spark.feature import DCT
    sdf, pdf = vec_df
    assert_parity(DCT(inputCol="v", outputCol="o"), sdf, pdf, ["o"])
    assert_parity(DCT(inputCol="v", outputCol="o", inverse=True), sdf, pdf, ["o"])


def test_polynomial_expansion_local(spark):
    from flink_ml_spark.feature import PolynomialExpansion
    rows = [([1.0, 2.0],), ([0.5, -1.0],)]
    sdf = spark.createDataFrame(rows, "v array<double>")
    pdf = pd.DataFrame({"v": [list(r[0]) for r in rows]})
    assert_parity(PolynomialExpansion(inputCol="v", outputCol="o", degree=3),
                  sdf, pdf, ["o"])


def test_vector_assembler_local(spark):
    from flink_ml_spark.feature import VectorAssembler
    rows = [(1.0, [2.0, 3.0]), (4.0, [5.0, 6.0])]
    sdf = spark.createDataFrame(rows, "a double, b array<double>")
    pdf = pd.DataFrame({"a": [r[0] for r in rows], "b": [list(r[1]) for r in rows]})
    assert_parity(VectorAssembler(inputCols=["a", "b"], outputCol="o",
                                  inputSizes=[1, 2]), sdf, pdf, ["o"])


def test_selectors_local(spark, vec_df):
    from flink_ml_spark.feature import (UnivariateFeatureSelectorModel,
                                        VarianceThresholdSelectorModel)
    sdf, pdf = vec_df
    m = VarianceThresholdSelectorModel()
    m.set_(inputCol="v", outputCol="o")
    m.model_data = {"indices": [0, 2]}
    assert_parity(m, sdf, pdf, ["o"])
    u = UnivariateFeatureSelectorModel()
    u.set_(featuresCol="v", outputCol="o")
    u.model_data = {"indices": [1]}
    assert_parity(u, sdf, pdf, ["o"])


def test_kbins_local(spark, vec_df):
    from flink_ml_spark.feature import KBinsDiscretizer
    sdf, pdf = vec_df
    m = KBinsDiscretizer(inputCol="v", outputCol="o", numBins=2,
                         strategy="uniform").fit(sdf)
    assert_parity(m, sdf, pdf, ["o"])


def test_one_hot_local(spark):
    from flink_ml_spark.feature import OneHotEncoder
    rows = [(0.0,), (1.0,), (2.0,)]
    sdf = spark.createDataFrame(rows, "c double")
    pdf = pd.DataFrame({"c": [r[0] for r in rows]})
    m = OneHotEncoder(inputCols=["c"], outputCols=["o"]).fit(sdf)
    assert_parity(m, sdf, pdf, ["o"])


def test_index_to_string_local(spark):
    from flink_ml_spark.feature import IndexToStringModel
    rows = [(0.0,), (2.0,), (1.0,)]
    sdf = spark.createDataFrame(rows, "i double")
    pdf = pd.DataFrame({"i": [r[0] for r in rows]})
    m = IndexToStringModel(inputCols=["i"], outputCols=["o"]) \
        .set_model_data_arrays([["a", "b", "c"]])
    assert_parity(m, sdf, pdf, ["o"])


def test_stop_words_remover_local(spark, tok_df):
    from flink_ml_spark.feature import StopWordsRemover
    sdf, pdf = tok_df
    assert_parity(StopWordsRemover(inputCols=["tokens"], outputCols=["o"]),
                  sdf, pdf, ["o"])


def test_regex_tokenizer_local(spark):
    from flink_ml_spark.feature import RegexTokenizer
    rows = [("Hello World  again",), ("One-two THREE",)]
    sdf = spark.createDataFrame(rows, "text string")
    pdf = pd.DataFrame({"text": [r[0] for r in rows]})
    assert_parity(RegexTokenizer(inputCol="text", outputCol="o"), sdf, pdf, ["o"])
    assert_parity(RegexTokenizer(inputCol="text", outputCol="o", gaps=False,
                                 pattern=r"[a-z]+"), sdf, pdf, ["o"])


def test_count_vectorizer_idf_local(spark, tok_df):
    from flink_ml_spark.feature import IDF, CountVectorizer
    sdf, pdf = tok_df
    cv = CountVectorizer(inputCol="tokens", outputCol="tf").fit(sdf)
    assert_parity(cv, sdf, pdf, ["tf"])
    with_tf = cv.transform(sdf)[0]
    idf = IDF(inputCol="tf", outputCol="o").fit(with_tf)
    pdf_tf = cv.transform_local(pdf)
    spark_rows = [r.asDict(recursive=True)
                  for r in idf.transform(with_tf)[0].collect()]
    local = idf.transform_local(pdf_tf)
    assert [_norm(v) for v in local["o"]] == [_norm(r["o"]) for r in spark_rows]


def test_hashing_tf_local(spark, tok_df):
    from flink_ml_spark.feature import HashingTF
    sdf, pdf = tok_df
    for algo in ("poly", "native"):
        assert_parity(HashingTF(inputCol="tokens", outputCol="o",
                                numFeatures=16, hashAlgorithm=algo),
                      sdf, pdf, ["o"])


def test_linear_models_local(spark):
    from flink_ml_spark.classification import LinearSVC, LogisticRegression
    from flink_ml_spark.regression import LinearRegression
    rows = [([1.0, 0.0], 1.0), ([0.0, 1.0], 0.0), ([1.0, 1.0], 1.0),
            ([0.1, 0.9], 0.0)]
    sdf = spark.createDataFrame(rows, "features array<double>, label double")
    pdf = pd.DataFrame({"features": [list(r[0]) for r in rows]})
    for est in (LinearSVC(maxIter=5), LinearRegression(maxIter=5),
                LogisticRegression(maxIter=5)):
        m = est.set_(featuresCol="features", labelCol="label").fit(sdf)
        out_cols = [m.get_("predictionCol")]
        assert_parity(m, sdf, pdf, out_cols)


def test_naive_bayes_local(spark):
    from flink_ml_spark.classification import NaiveBayes
    rows = [([0.0, 1.0], 0.0), ([0.0, 2.0], 0.0), ([1.0, 1.0], 1.0),
            ([1.0, 2.0], 1.0)]
    sdf = spark.createDataFrame(rows, "features array<double>, label double")
    pdf = pd.DataFrame({"features": [list(r[0]) for r in rows]})
    m = NaiveBayes(featuresCol="features", labelCol="label").fit(sdf)
    assert_parity(m, sdf, pdf, ["prediction"])


def test_full_text_pipeline_served_locally(spark, tmp_path):
    """End-to-end: tokenizer → stopwords → hashing → LR pipeline fit on
    Spark, saved, loaded WITHOUT Spark, served on pandas."""
    from flink_ml_spark import Pipeline
    from flink_ml_spark.api import Stage
    from flink_ml_spark.classification import LogisticRegression
    from flink_ml_spark.feature import (HashingTF, StopWordsRemover,
                                        Tokenizer)

    rows = [("the good movie", 1.0), ("a bad film", 0.0),
            ("good acting great plot", 1.0), ("terrible bad boring", 0.0)]
    sdf = spark.createDataFrame(rows, "text string, label double")
    pipe = Pipeline([
        Tokenizer(inputCol="text", outputCol="toks"),
        StopWordsRemover(inputCols=["toks"], outputCols=["kept"]),
        HashingTF(inputCol="kept", outputCol="features", numFeatures=32),
        LogisticRegression(featuresCol="features", labelCol="label",
                           maxIter=10),
    ])
    pm = pipe.fit(sdf)
    path = str(tmp_path / "served")
    pm.save(path)
    served = Stage.load_local(path)
    pdf = pd.DataFrame({"text": ["good great movie", "bad boring film"]})
    out = served.transform_local(pdf)
    assert list(out["prediction"]) == [1.0, 0.0]


def test_text_analysis_local_parity(spark):
    """Row-local corpus-prep stages serve identically pandas-side."""
    from flink_ml_spark.llmdata import (DocumentFingerprinter,
                                        LanguageIdentifier, PIIRedactor,
                                        TextNormalizer, TextQualityScorer,
                                        TokenCounter)
    rows = [("The quick brown fox is a good and fast animal today",),
            ("der und die das ist von nicht",),
            ("mail a@b.co or 1.2.3.4 now  \x07 MIXED case 123",),
            ("",)]
    sdf = spark.createDataFrame(rows, "text string")
    pdf = pd.DataFrame({"text": [r[0] for r in rows]})
    assert_parity(LanguageIdentifier(inputCol="text", outputCol="lang"),
                  sdf, pdf, ["lang"])
    assert_parity(TextQualityScorer(inputCol="text"), sdf, pdf,
                  ["q_mean_word_len", "q_stopword_ratio", "q_punct_ratio",
                   "q_digit_ratio", "quality_score"])
    assert_parity(TokenCounter(inputCol="text"), sdf, pdf,
                  ["n_tokens_ws", "n_tokens_bpe"])
    assert_parity(TextNormalizer(inputCol="text", outputCol="norm"),
                  sdf, pdf, ["norm"])
    assert_parity(PIIRedactor(inputCol="text", outputCol="red"), sdf, pdf,
                  ["red", "pii_email_count", "pii_ipv4_count",
                   "pii_phone_count"])
    assert_parity(DocumentFingerprinter(inputCol="text", outputCol="fp"),
                  sdf, pdf, ["fp"])


def test_sampling_quantizer_local_parity(spark):
    from flink_ml_spark.llmdata import (DocumentChunker, DomainMixtureSampler,
                                        EmbeddingQuantizer)
    rows = [(1, "src0", "one two three four five six seven"),
            (2, "src1", "alpha beta gamma"),
            (3, "web", ""), (4, "web", "solo")]
    sdf = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows],
                        "source": [r[1] for r in rows],
                        "text": [r[2] for r in rows]})
    mix = DomainMixtureSampler(idCol="doc_id", domainCol="source",
                               rates={"src0": 0.9}, defaultRate=0.5)
    spark_ids = [r["doc_id"] for r in mix.transform(sdf)[0].collect()]
    local_ids = list(mix.transform_local(pdf)["doc_id"])
    assert sorted(spark_ids) == sorted(local_ids)

    ch = DocumentChunker(textCol="text", chunkCol="chunk", chunkSize=3,
                         overlap=1)
    sp = sorted((r["doc_id"], r["chunk_start"], r["chunk"])
                for r in ch.transform(sdf)[0].collect())
    lo = sorted(zip(*(ch.transform_local(pdf)[c]
                      for c in ("doc_id", "chunk_start", "chunk"))))
    assert sp == lo

    erows = [(1, [0.5, -1.0, 2.0]), (2, [0.0, 0.0, 0.0])]
    esdf = spark.createDataFrame(erows, "id long, emb array<double>")
    epdf = pd.DataFrame({"id": [r[0] for r in erows],
                         "emb": [list(r[1]) for r in erows]})
    q = EmbeddingQuantizer(inputCol="emb", outputCol="o")
    assert_parity(q, esdf, epdf, ["o"])


def test_repetition_minhash_local_parity(spark):
    from flink_ml_spark.llmdata import MinHashSignature, RepetitionScorer
    rows = [("a b a b a\nx\nx\ny",), ("unique words only here",), ("",)]
    sdf = spark.createDataFrame(rows, "text string")
    pdf = pd.DataFrame({"text": [r[0] for r in rows]})
    assert_parity(RepetitionScorer(inputCol="text"), sdf, pdf,
                  ["rep_dup_line_frac", "rep_dup_line_char_frac",
                   "rep_top_word_frac", "rep_top_bigram_frac"])

    trows = [(["a", "b", "c"],), (["a"],), ([],)]
    tsdf = spark.createDataFrame(trows, "toks array<string>")
    tpdf = pd.DataFrame({"toks": [list(r[0]) for r in trows]})
    assert_parity(MinHashSignature(inputCol="toks", outputCol="sig",
                                   numHashes=8), tsdf, tpdf, ["sig"])


def test_media_stages_local_parity(spark):
    from flink_ml_spark.llmdata import (MediaFeatureExtractor,
                                        VideoFrameSampler)
    from flink_ml_spark.llmdata.codecs import encode_bmp, encode_wav
    img = encode_bmp(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    wav = encode_wav(8000, (np.linspace(-1, 1, 64) * 32767).astype(np.int16))
    rows = [(1, "image", img, 0.0), (2, "audio", wav, 0.0),
            (3, "video", b"\x00fake", 4000.0)]
    sdf = spark.createDataFrame(rows,
                                "media_id long, media_type string, "
                                "payload binary, duration_ms double")
    pdf = pd.DataFrame({"media_id": [r[0] for r in rows],
                        "media_type": [r[1] for r in rows],
                        "payload": [r[2] for r in rows],
                        "duration_ms": [r[3] for r in rows]})
    for kernel in ("hash", "auto"):
        fe = MediaFeatureExtractor(payloadCol="payload", outputCol="f",
                                   featureDim=8, kernel=kernel)
        assert_parity(fe, sdf, pdf, ["f"])
    vs = VideoFrameSampler(numFrames=4)
    sp = sorted(tuple(r) for r in vs.transform(sdf)[0].collect())
    lo = sorted(zip(*(vs.transform_local(pdf)[c]
                      for c in ("media_id", "frame_idx", "ts_ms"))))
    assert sp == lo


def test_gopher_filter_local(spark):
    from flink_ml_spark.llmdata import GopherQualityFilter
    texts = [
        "the cat and the dog have fun with a ball " * 8,   # keeps
        "short",                                           # word count fails
        "- one\n- two\n- three\n- four",                   # bullets fail
        "to be continued...\nand more...\nof that...",     # ellipsis lines
        "the be 1 2 3 4 5 6 7 8 9 10 11 12 13",            # alpha ratio fails
        "#### #### the be #### of " * 10,                  # symbol ratio
        None,
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    pdf = pd.DataFrame({"text": texts})
    stage = GopherQualityFilter(inputCol="text", minWords=8)
    assert_parity(stage, sdf, pdf,
                  ["n_words", "r_word_count", "r_mean_word_len",
                   "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines",
                   "r_alpha_words", "r_stopwords", "keep"])
    rows = {i: r for i, r in enumerate(stage.transform(sdf)[0].collect())}
    assert rows[0]["keep"] is True
    assert rows[1]["r_word_count"] is False
    assert rows[2]["r_bullet_lines"] is False
    assert rows[3]["r_ellipsis_lines"] is False
    assert rows[4]["r_alpha_words"] is False
    assert rows[5]["r_symbol_ratio"] is False
    assert rows[6]["keep"] is False


def test_new_corpus_stages_save_load_local(spark, tmp_path):
    """Round-3 fitted stages persist and serve engine-free: save ->
    Stage.load_local -> transform_local matches the distributed path."""
    from flink_ml_spark.api import Stage
    from flink_ml_spark.llmdata import (TemperatureMixtureSampler,
                                        UnigramLMScorer)
    rows = [(i, ("the data " * (i % 4 + 1)).strip(),
             "big" if i % 10 < 8 else "small") for i in range(50)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows],
                        "text": [r[1] for r in rows],
                        "source": [r[2] for r in rows]})

    lm = UnigramLMScorer(inputCol="text", outputCol="s", vocabSize=10).fit(sdf)
    p1 = str(tmp_path / "lm")
    lm.save(p1)
    lm2 = Stage.load_local(p1)
    want = [r["s"] for r in lm.transform(sdf)[0].collect()]
    got = list(lm2.transform_local(pdf)["s"])
    assert all(abs(a - b) < 1e-12 for a, b in zip(got, want))

    mix = TemperatureMixtureSampler(idCol="doc_id", domainCol="source",
                                    alpha=0.5).fit(sdf)
    p2 = str(tmp_path / "mix")
    mix.save(p2)
    mix2 = Stage.load_local(p2)
    assert mix2.model_data["rates"] == mix.model_data["rates"]
    assert (set(mix2.transform_local(pdf)["doc_id"])
            == {r["doc_id"] for r in mix.transform(sdf)[0].collect()})


def test_local_parity_fixes_regressions(spark):
    """Served-vs-cluster parity on the edge cases: ASCII-only regex
    classes, 0x20-only trim, HALF_UP rounding, NULL inputs, negative
    sampling ids."""
    import numpy as np
    from flink_ml_spark.feature import RegexTokenizer, VectorAssembler
    from flink_ml_spark.llmdata import (DomainMixtureSampler,
                                        EmbeddingQuantizer,
                                        GopherQualityFilter,
                                        TextQualityScorer, TokenCounter)

    # TokenCounter / TextQualityScorer: NBSP + unicode digits
    rows = [("a b ٣ 2",), ("plain text here",)]
    sdf = spark.createDataFrame(rows, "text string")
    pdf = pd.DataFrame({"text": [r[0] for r in rows]})
    assert_parity(TokenCounter(inputCol="text"), sdf, pdf,
                  ["n_tokens_ws", "n_tokens_bpe"])
    assert_parity(TextQualityScorer(inputCol="text"), sdf, pdf,
                  ["q_digit_ratio", "quality_score"])

    # GopherQualityFilter: tab-led bullet lines are NOT bullets (ltrim
    # strips 0x20 only on the cluster)
    g_rows = [("\t- tab bullet\n- real bullet",), (" - spaced bullet",)]
    g_sdf = spark.createDataFrame(g_rows, "text string")
    g_pdf = pd.DataFrame({"text": [r[0] for r in g_rows]})
    assert_parity(GopherQualityFilter(inputCol="text"), g_sdf, g_pdf,
                  ["r_bullet_lines", "r_ellipsis_lines"])

    # RegexTokenizer: NULL text must not crash locally
    rt = RegexTokenizer(inputCol="text", outputCol="toks")
    out = rt.transform_local(pd.DataFrame({"text": [None, "a b"]}))
    assert list(out["toks"]) == [[], ["a", "b"]]

    # VectorAssembler keep-mode: NULL array fills declared width
    va = VectorAssembler(inputCols=["v"], outputCol="f",
                         inputSizes=[3], handleInvalid="keep")
    out = va.transform_local(pd.DataFrame({"v": [None, [1.0, 2.0, 3.0]]}))
    assert len(out["f"][0]) == 3 and all(np.isnan(out["f"][0]))

    # EmbeddingQuantizer: exact k+0.5 quantization rounds away from zero
    q_rows = [([62.5, -62.5, 127.0],)]
    q_sdf = spark.createDataFrame(q_rows, "v array<double>")
    q_pdf = pd.DataFrame({"v": [list(r[0]) for r in q_rows]})
    stage = EmbeddingQuantizer(inputCol="v", outputCol="q")
    assert_parity(stage, q_sdf, q_pdf, ["q"])
    assert stage.transform_local(q_pdf)["q"][0]["codes"] == [63, -63, 127]

    # negative ids: cluster keeps them always (negative hash), local must too
    n_rows = [(-5, "a"), (7, "a")]
    n_sdf = spark.createDataFrame(n_rows, "id long, source string")
    n_pdf = pd.DataFrame({"id": [r[0] for r in n_rows],
                          "source": [r[1] for r in n_rows]})
    samp = DomainMixtureSampler(idCol="id", rates={"a": 0.5})
    assert (set(samp.transform_local(n_pdf)["id"])
            == {r["id"] for r in samp.transform(n_sdf)[0].collect()})


def test_round3b_stages_save_load_local(spark, tmp_path):
    """This round's fitted stages serve engine-free: BigramLMScorer and
    BpeTokenizerModel round-trip through Stage.load_local with outputs
    matching the distributed transform."""
    from flink_ml_spark.api import Stage
    from flink_ml_spark.llmdata import BigramLMScorer, BpeTokenizerTrainer
    rows = [(i, ("low lower newest widest data " * (i % 3 + 1)).strip())
            for i in range(40)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows],
                        "text": [r[1] for r in rows]})

    lm = BigramLMScorer(inputCol="text", outputCol="s", vocabSize=20,
                        bigramSize=50, interpolation=0.6).fit(sdf)
    p1 = str(tmp_path / "lm2")
    lm.save(p1)
    lm2 = Stage.load_local(p1)
    want = [r["s"] for r in lm.transform(sdf)[0].collect()]
    got = list(lm2.transform_local(pdf)["s"])
    assert all(abs(a - b) < 1e-12 for a, b in zip(got, want))

    bpe = BpeTokenizerTrainer(inputCol="text", outputCol="toks",
                              numMerges=30).fit(sdf)
    p2 = str(tmp_path / "bpe")
    bpe.save(p2)
    bpe2 = Stage.load_local(p2)
    want_t = [list(r["toks"]) for r in bpe.transform(sdf)[0].collect()]
    got_t = [list(t) for t in bpe2.transform_local(pdf)["toks"]]
    assert got_t == want_t


def test_round4_stages_save_load_local(spark, tmp_path):
    """Round-4 stages serve engine-free: CharEntropyScorer and
    StratifiedBudgetSampler round-trip through Stage.load_local with
    outputs matching the distributed transform."""
    from flink_ml_spark.api import Stage
    from flink_ml_spark.llmdata import CharEntropyScorer, StratifiedBudgetSampler
    rows = [(i, "src%d" % (i % 3), "some text with entropy %d aa bb" % i)
            for i in range(30)]
    sdf = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])

    ce = CharEntropyScorer(inputCol="text")
    p1 = str(tmp_path / "ce")
    ce.save(p1)
    ce2 = Stage.load_local(p1)
    want = {r["doc_id"]: r["char_entropy"]
            for r in ce._transform(sdf).collect()}
    got = dict(zip(ce2.transform_local(pdf)["doc_id"],
                   ce2.transform_local(pdf)["char_entropy"]))
    assert all(abs(got[i] - want[i]) < 1e-9 for i in want)

    sb = StratifiedBudgetSampler(idCol="doc_id", domainCol="source",
                                 budgets={"src0": 3}, defaultBudget=5)
    p2 = str(tmp_path / "sb")
    sb.save(p2)
    sb2 = Stage.load_local(p2)
    want_ids = {r["doc_id"] for r in sb.transform(sdf)[0].collect()}
    got_ids = set(sb2.transform_local(pdf)["doc_id"])
    assert got_ids == want_ids
    # params (incl. the dict budget) survived the round-trip
    assert sb2.get_("budgets") == {"src0": 3}
