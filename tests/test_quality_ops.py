"""unigram_logprob / length_filter / label_centroids: quality-bucketing,
length banding, and class-cohesion readouts of a training-data pipeline."""

import math

from search_engine_spark.catalog.ann import q_label_centroids
from search_engine_spark.catalog.quality import (
    q_corpus_pipeline, q_length_filter, q_unigram_logprob,
)


def test_unigram_logprob_matches_hand_model(spark, tmp_path):
    # corpus: 'a' x6, 'b' x3, 'c' x1  -> p(a)=.6 p(b)=.3 p(c)=.1
    rows = [
        (0, "a a a b", "en", "s"),        # xent = (3*-ln.6 + -ln.3)/4
        (1, "a a a b b c", "en", "s"),    # xent = (3*-ln.6+2*-ln.3+-ln.1)/6
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           q_unigram_logprob(spark, str(tmp_path)).collect()}
    w0 = (3 * -math.log(0.6) + -math.log(0.3)) / 4
    w1 = (3 * -math.log(0.6) + 2 * -math.log(0.3) + -math.log(0.1)) / 6
    assert out[0]["n_tokens"] == 4 and out[1]["n_tokens"] == 6
    assert abs(out[0]["xent_nats"] - round(w0, 4)) < 1e-9
    assert abs(out[1]["xent_nats"] - round(w1, 4)) < 1e-9
    # the doc with the rare token is less 'typical'
    assert out[1]["xent_nats"] > out[0]["xent_nats"]


def test_length_filter_drops_tails(spark, tmp_path):
    rows = [(i, "x", "en", "s", (i + 1) * 10) for i in range(100)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    kept = sorted(
        r["doc_id"] for r in q_length_filter(spark, str(tmp_path)).collect()
    )
    # exact percentile band [p5, p95] over 10..1000 keeps the middle ~90%
    assert 85 <= len(kept) <= 95
    assert 0 not in kept and 99 not in kept      # extreme tails dropped
    assert 50 in kept                            # median kept


def test_label_centroids_cohesion(spark, tmp_path):
    # label 0: tight cluster near (1,0); label 1: two orthogonal vectors
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [1.0, 0.05], 0),
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["label"]: r for r in
           q_label_centroids(spark, str(tmp_path)).collect()}
    assert out[0]["n_vecs"] == 3 and out[1]["n_vecs"] == 2
    # tight cluster is more cohesive than the orthogonal pair
    assert out[0]["mean_cos"] > 0.99
    assert out[1]["mean_cos"] < 0.75
    # label-1 centroid is (.5,.5): norm = sqrt(.5)
    assert abs(out[1]["centroid_norm"] - round(math.sqrt(0.5), 4)) < 1e-9


def test_corpus_pipeline_funnel(spark, tmp_path):
    # 24-token English body: 'the'/'and'/'of' markers + plenty of stopwords
    en = ("the cat and the dog of the house went to the market in the "
          "morning and it was for sure a fine day")
    de = ("der hund und die katze ist nicht ein tier mit den anderen von "
          "der stadt und der mann ist nicht hier heute morgen da")
    rows = [
        # bench slice doc: its OWN text (no overlap with the en body)
        (97, "benchmark marker alpha beta gamma delta epsilon zeta"),
        (1, de),                          # fails language
        (2, "the and of short"),          # en but < 20 tokens
        (3, en),                          # dup group A, keeper
        (4, en),                          # dup group A, dropped
        # shares the 4-gram 'benchmark marker alpha beta' with the bench doc
        (5, en + " more words benchmark marker alpha beta then padding"),
        (6, "the river and the bridge of the town go to the square in the "
            "evening and it is for all a calm walk"),           # clean keep
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           q_corpus_pipeline(spark, str(tmp_path)).collect()}
    assert len(out) == 7
    # cumulative flags: keep -> uniq_ok -> qual_ok -> lang_ok
    for r in out.values():
        assert (not r["keep"]) or r["uniq_ok"]
        assert (not r["uniq_ok"]) or r["qual_ok"]
        assert (not r["qual_ok"]) or r["lang_ok"]
    assert not out[1]["lang_ok"]
    assert out[2]["lang_ok"] and not out[2]["qual_ok"]
    assert out[3]["keep"] and not out[4]["uniq_ok"]      # min-id keeper
    assert out[5]["uniq_ok"] and not out[5]["keep"]      # contaminated
    assert not out[97]["keep"]                           # bench slice out
    assert out[6]["keep"]


def test_corpus_pipeline_dedup_among_survivors(spark, tmp_path):
    # doc 1 duplicates doc 2's text but FAILS quality by stopword ratio?
    # no — identical text has identical quality; instead make the lower-id
    # copy fail the BENCHMARK-slice stage later: keeper-ship among
    # qual_ok docs is decided before decontamination, so a contaminated
    # keeper still shadows its copy. The semantic worth pinning is that a
    # NON-qualifying lower id never steals keeper-ship: doc 0 is the bench
    # slice (0 % 97 == 0) yet SAME text as docs 10/11 — it IS qual_ok, so
    # it keeps; the copies drop at uniq_ok, and doc 0 itself drops at the
    # bench gate: the duplicate text leaves NO kept copy.
    en = ("the cat and the dog of the house went to the market in the "
          "morning and it was for sure a fine day")
    rows = [(0, en), (10, en), (11, en)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           q_corpus_pipeline(spark, str(tmp_path)).collect()}
    assert out[0]["uniq_ok"] and not out[0]["keep"]
    assert not out[10]["uniq_ok"] and not out[11]["uniq_ok"]
    assert not any(r["keep"] for r in out.values())
