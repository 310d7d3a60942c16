"""bigram_logprob / ttr_quality / quality_classifier: higher-order LM
quality, lexical diversity, and fixed-weight classifier inference."""

import math

from search_engine_spark.catalog.ir import (
    _QC_BIAS, _QC_W_LEN, _QC_W_STOP, _QC_W_TTR,
)
from search_engine_spark.catalog.quality import (
    q_bigram_logprob, q_quality_classifier, q_ttr_quality,
)


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_bigram_logprob_matches_hand_model(spark, tmp_path):
    # corpus: doc0 = "a b a b", doc1 = "a a", doc2 = "c" (no transitions)
    _write_docs(spark, tmp_path, ["a b a b", "a a", "c"])
    # unigrams: a=4, b=2, c=1, N=7
    # bigrams:  (a,b)=2, (b,a)=1, (a,a)=1
    N = 7
    c = {"a": 4, "b": 2, "c": 1}
    cbi = {("a", "b"): 2, ("b", "a"): 1, ("a", "a"): 1}

    def p(w1, w2):
        return (cbi[(w1, w2)] + c[w2] / N) / (c[w1] + 1)

    want0 = round(-(math.log(p("a", "b")) + math.log(p("b", "a"))
                    + math.log(p("a", "b"))) / 3, 4)
    want1 = round(-math.log(p("a", "a")), 4)
    out = {r["doc_id"]: r for r in
           q_bigram_logprob(spark, str(tmp_path)).collect()}
    assert out[0]["n_bigrams"] == 3 and abs(out[0]["xent_nats"] - want0) < 1e-9
    assert out[1]["n_bigrams"] == 1 and abs(out[1]["xent_nats"] - want1) < 1e-9
    assert 2 not in out                       # single-token doc: no transitions


def test_ttr_quality_hand_counts(spark, tmp_path):
    _write_docs(spark, tmp_path, ["a a a b", "a b c d"])
    out = {r["doc_id"]: r for r in
           q_ttr_quality(spark, str(tmp_path)).collect()}
    # doc0: 4 tokens, 2 types (a:3, b:1) -> ttr .5, hapax 1/2
    assert out[0]["n_tokens"] == 4 and out[0]["n_types"] == 2
    assert out[0]["ttr"] == 0.5 and out[0]["hapax_ratio"] == 0.5
    # doc1: all hapax -> ttr 1.0, hapax 1.0
    assert out[1]["ttr"] == 1.0 and out[1]["hapax_ratio"] == 1.0


def test_quality_classifier_matches_hand_logistic(spark, tmp_path):
    _write_docs(spark, tmp_path, ["the of and is it", "zzzz zzzz zzzz"])
    out = {r["doc_id"]: r for r in
           q_quality_classifier(spark, str(tmp_path)).collect()}

    def sigmoid(mean_len, stop, ttr):
        z = (_QC_W_LEN * mean_len + _QC_W_STOP * stop
             + _QC_W_TTR * ttr + _QC_BIAS)
        return round(1.0 / (1.0 + math.exp(-z)), 4)

    # doc0: 5 stopwords -> mean_len 12/5, stop 1.0, ttr 1.0
    w0 = sigmoid(12 / 5, 1.0, 1.0)
    # doc1: mean_len 4, stop 0, ttr 1/3
    w1 = sigmoid(4.0, 0.0, 1 / 3)
    assert out[0]["p_keep"] == w0 and out[0]["keep"] == (w0 >= 0.5)
    assert out[1]["p_keep"] == w1 and out[1]["keep"] == (w1 >= 0.5)
