"""pmi_bigrams / doc_similarity / dedup_keep: collocation mining, sparse
tf-idf document similarity, and the end-to-end near-dedup keep list."""

import math
import re
from collections import Counter

from search_engine_spark.catalog.dedup import (
    q_dedup_keep, q_doc_similarity, q_dup_spans, _SIM_QUERY_DOC,
)
from search_engine_spark.catalog.ann import (
    q_ann_quantized_recall, q_embedding_quantize, _RECALL_NQ,
)
from search_engine_spark.catalog.quality import q_pmi_bigrams


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _pmi_expected(texts, k=20, min_count=5):
    """Pure-Python twin of q_pmi_bigrams (same tokenizer, same formula)."""
    uni, bi = Counter(), Counter()
    for t in texts:
        ts = _toks(t)
        uni.update(ts)
        bi.update(zip(ts, ts[1:]))
    nuni, nbi = sum(uni.values()), sum(bi.values())
    rows = []
    for (a, b), c in bi.items():
        if c < min_count:
            continue
        pmi = math.log((c / nbi) / ((uni[a] / nuni) * (uni[b] / nuni)))
        rows.append((a, b, c, round(pmi, 4)))
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    return rows[:k]


def test_pmi_bigrams_matches_hand_model(spark, tmp_path):
    # 'new york' always adjacent (6x); 'the' is everywhere, so 'the NOUN'
    # bigrams exist but carry low PMI; filler bigrams stay under min_count
    texts = [
        "new york is the city the people the lights",
        "new york has the subway the bridge the park",
        "i saw new york and the river the harbor",
        "new york new york the twin the mention",
        "flying into new york over the water the bay",
    ]
    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = [
        (r["term_a"], r["term_b"], r["c_ab"], r["pmi"])
        for r in q_pmi_bigrams(spark, str(tmp_path)).collect()
    ]
    want = _pmi_expected(texts)
    assert got == want
    assert got[0][:2] == ("new", "york")     # the collocation wins


def test_doc_similarity_ranks_identical_doc_first(spark, tmp_path):
    rows = [
        (_SIM_QUERY_DOC, "apple banana cherry", "en", "s"),
        (1, "apple banana cherry", "en", "s"),     # identical -> cos 1.0
        (2, "apple banana dog", "en", "s"),        # partial overlap
        (3, "egg fig grape", "en", "s"),           # disjoint -> absent
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = q_doc_similarity(spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r["cos"] for r in got}
    assert by_id[1] == 1.0
    assert 3 not in by_id                      # no shared terms, no candidate
    assert got[0]["doc_id"] == 1 and by_id[1] > by_id[2] > 0


def test_dedup_keep_keeps_one_representative(spark, tmp_path):
    rows = [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (1002, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    rows += [(2000 + i, f"unique{i} solitary{i} text{i} body{i} words{i}")
             for i in range(4)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    kept = sorted(
        r["doc_id"] for r in q_dedup_keep(spark, str(tmp_path)).collect()
    )
    # the near-dup cluster {1000,1001,1002} collapses to its min id
    assert 1000 in kept and 1001 not in kept and 1002 not in kept
    # distinct docs all survive
    assert [d for d in kept if d >= 2000] == [2000, 2001, 2002, 2003]


def test_events_topk_window_ranks_within_hour(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 10, 5)
    rows = []
    # hour 10: a=30, b=20, c=10, d=5  -> top3 a,b,c
    for et, v, n in (("a", 10.0, 3), ("b", 10.0, 2), ("c", 10.0, 1), ("d", 5.0, 1)):
        for i in range(n):
            rows.append((len(rows), base + dt.timedelta(minutes=i), 1, et, v, "{}"))
    # hour 11: only two types -> both kept, ranks 1..2
    base2 = dt.datetime(2026, 1, 1, 11, 30)
    rows += [(len(rows), base2, 1, "x", 7.0, "{}"),
             (len(rows) + 1, base2, 1, "y", 9.0, "{}")]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    from search_engine_spark.catalog.events import q_events_topk_window

    out = q_events_topk_window(spark, str(tmp_path)).collect()
    h10 = sorted([(r["rk"], r["event_type"], r["total"]) for r in out
                  if r["win"].hour == 10])
    assert h10 == [(1, "a", 30.0), (2, "b", 20.0), (3, "c", 10.0)]
    h11 = sorted([(r["rk"], r["event_type"]) for r in out if r["win"].hour == 11])
    assert h11 == [(1, "y"), (2, "x")]


def test_semantic_dedup_drops_same_cell_neardups(spark, tmp_path):
    import numpy as np

    rows = []
    # ids 0,1,9: one tight direction (axis 0) with tiny perturbations —
    # only id 1 is an IVF seed (seeds are ids 1..8), so the whole trio
    # lands in seed 1's cell instead of each dup anchoring its own cell
    for i, eps in ((0, 0.0), (1, 0.01), (9, 0.02)):
        v = np.zeros(8); v[0] = 1.0; v[1] = eps
        rows.append((i, [float(x) for x in v], 0))
    # ids 2..8: one-hot on distinct axes -> pairwise cos 0 with everything
    for j, i in enumerate(range(2, 9)):
        v = np.zeros(8); v[j + 1] = 1.0
        rows.append((i, [float(x) for x in v], 1))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    from search_engine_spark.catalog.ann import q_semantic_dedup

    kept = sorted(r["vec_id"] for r in
                  q_semantic_dedup(spark, str(tmp_path)).collect())
    # the near-dup trio {0,1,9} lands in one IVF cell and collapses to 0
    assert kept == [0, 2, 3, 4, 5, 6, 7, 8]


def test_semantic_dedup_hot_cell_pairs_bounded(spark, tmp_path, monkeypatch):
    """A boilerplate embedding cluster (M near-identical vectors in ONE
    IVF cell) must NOT produce M²/2 candidate pairs in one task: cells
    above _SEMDEDUP_CELL_CAP are split into ceil(m/cap) sub-buckets, so
    the pair count is bounded and the cluster still dedups to one
    representative per sub-bucket."""
    import numpy as np

    from search_engine_spark.catalog import ann

    rows = []
    # ids {0, 1, 100..137}: 40 near-identical vectors along axis 0.  Only
    # id 1 is an IVF seed (seeds are ids 1..8) so the whole cluster lands
    # in seed 1's cell.
    hot = [0, 1] + list(range(100, 138))
    for j, i in enumerate(hot):
        v = np.zeros(8); v[0] = 1.0; v[1] = 0.0005 * j
        rows.append((i, [float(x) for x in v], 0))
    # seeds 2..8: one-hot on distinct axes, each anchoring its own cell
    for j, i in enumerate(range(2, 9)):
        v = np.zeros(8); v[j + 1] = 1.0
        rows.append((i, [float(x) for x in v], 1))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    monkeypatch.setattr(ann, "_SEMDEDUP_CELL_CAP", 10)
    pairs = ann._semantic_pairs(spark, str(tmp_path)).collect()
    m, cap = len(hot), 10
    n_sub = -(-m // cap)                      # ceil(40/10) = 4
    per_bucket = -(-m // n_sub) + 1           # ≤ 11 members per residue
    bound = n_sub * per_bucket * (per_bucket - 1) // 2
    assert len(pairs) <= bound                # ≪ C(40,2) = 780
    assert len(pairs) < m * (m - 1) // 2 / 3  # genuinely sub-quadratic

    kept = sorted(r["vec_id"] for r in
                  ann.q_semantic_dedup(spark, str(tmp_path)).collect())
    # one representative per sub-bucket (vec_id % 4): residue minima are
    # 0, 1, 102, 103; seeds 2..8 are untouched singles
    assert kept == [0, 1, 2, 3, 4, 5, 6, 7, 8, 102, 103]


def test_ivf_recall_rises_with_nprobe(spark):
    """The accuracy/probe trade an ANN user measures: per-query recall@10
    of nprobe-cell IVF vs the exact brute-force top-10 is monotone in
    nprobe (candidate supersets can only add exact hits under the shared
    (cos desc, vec_id) comparator) and identically 1.0 once every cell is
    probed (the probe set IS the brute-force candidate set)."""
    from search_engine_spark.catalog.ann import _IVF_K, ivf_recall, _RECALL_NQ

    sf = "/root/testdata/sf0.001"
    by_np = {}
    for np_ in (1, 2, _IVF_K):
        by_np[np_] = {r["qid"]: r["recall"]
                      for r in ivf_recall(spark, sf, nprobe=np_).collect()}
    assert len(by_np[1]) == _RECALL_NQ
    # per-query monotone, not just on average
    for q in by_np[1]:
        assert by_np[1][q] <= by_np[2][q] <= by_np[_IVF_K][q]
    mean1 = sum(by_np[1].values()) / len(by_np[1])
    mean2 = sum(by_np[2].values()) / len(by_np[2])
    assert mean1 < mean2          # single-probe genuinely lossy here
    assert all(v == 1.0 for v in by_np[_IVF_K].values())


def test_lsh_recall_diagnostic(spark, tmp_path):
    """lsh_recall reports candidate recall/precision of the banded LSH
    against exact capped-shingle Jaccard — near-dup pairs must be counted
    as both true and hit (recall 1.0 here: 1-hash bands always collide on
    high-Jaccard docs sharing a min shingle)."""
    from search_engine_spark.catalog.dedup import q_lsh_recall

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    rows += [(100 + i, f"unique{i} solitary{i} text{i} body{i} words{i} "
                       f"extra{i} more{i} stuff{i}") for i in range(6)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    r = q_lsh_recall(spark, str(tmp_path)).collect()[0]
    assert r["n_true"] >= 3            # the {1,2,3} clique
    assert r["n_hit"] == r["n_true"]   # all true pairs surfaced
    assert r["recall"] == 1.0
    assert 0 < r["precision"] <= 1.0
    assert r["n_cand"] >= r["n_hit"]


def _winnow_expected(text, w=4):
    import hashlib

    toks = _toks(text)
    grams = [hashlib.md5(" ".join(toks[i:i + 3]).encode()).hexdigest()
             for i in range(len(toks) - 2)]
    fps = {min(grams[j:j + w]) for j in range(len(grams) - w + 1)}
    return fps if len(grams) >= w else set()


def test_winnow_fingerprints_match_hand_model(spark, tmp_path):
    from search_engine_spark.catalog.dedup import q_winnow_fingerprints

    texts = {
        1: "the quick brown fox jumps over the lazy dog near the river bank",
        2: "completely different words about boats sailing across the quiet "
           "harbor before dawn breaks",
        # shares the 8-word run 'fox jumps over the lazy dog near the' with
        # doc 1 -> winnowing GUARANTEES a shared fingerprint (k+w-1=6 < 8)
        3: "another opening then fox jumps over the lazy dog near the "
           "closing words here",
        4: "too short",            # < k words -> no fingerprints at all
    }
    spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got: dict[int, set] = {}
    for r in q_winnow_fingerprints(spark, str(tmp_path)).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in texts.items():
        assert got.get(i, set()) == _winnow_expected(t), i
    assert got[1] & got[3]             # shared-run guarantee
    assert not (got[1] & got[2])       # unrelated docs: disjoint here
    assert 4 not in got


def _dup_spans_expected(texts, L=8):
    """Pure-Python twin of q_dup_spans: count L-gram occurrences corpus-wide,
    keep positions whose gram occurs >= 2x, merge overlapping/adjacent."""
    grams = {}                       # gram-text -> count
    per_doc = {}                     # doc -> [1-based positions]
    for i, t in texts.items():
        ts = _toks(t)
        per_doc[i] = [
            (p + 1, " ".join(ts[p:p + L])) for p in range(len(ts) - L + 1)
        ]
        for _, g in per_doc[i]:
            grams[g] = grams.get(g, 0) + 1
    out = {}
    for i, pgs in per_doc.items():
        dup_pos = [p for p, g in pgs if grams[g] >= 2]
        spans = []
        for p in dup_pos:
            if spans and p <= spans[-1][1] - L + 1 + L:   # p <= prev_start_max + L
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + L - 1))
            else:
                spans.append((p, p + L - 1))
        if spans:
            out[i] = spans
    return out


def test_dup_spans_match_hand_model(spark, tmp_path):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = {
        # docs 1 and 2 share a verbatim 10-token passage -> one maximal
        # span of exactly those 10 tokens in each (grams chain & merge)
        1: "unique opening words here then " + shared + " and a distinct tail one",
        2: "other beginning tokens now " + shared + " closing differently two",
        # doc 3 repeats an 8-token run INSIDE itself -> intra-doc dup
        3: "zeta eta theta iota kappa lumen mu nux padding words zeta eta "
           "theta iota kappa lumen mu nux",
        # doc 4: nothing repeated
        4: "entirely fresh content with no duplicated eight token run at "
           "all in this corpus today",
        5: "short text",
    }
    spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got: dict[int, list] = {}
    for r in q_dup_spans(spark, str(tmp_path)).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
        assert r["span_len"] == r["span_end"] - r["span_start"] + 1
    got = {k: sorted(v) for k, v in got.items()}
    exp = _dup_spans_expected(texts)
    assert got == exp
    # the shared 10-token passage is recovered exactly (not over-extended)
    (s1, e1), = got[1]
    assert e1 - s1 + 1 == 10
    (s3a, s3b) = sorted(got[3])       # both copies of the intra-doc run
    assert s3a[1] - s3a[0] + 1 == 8 and s3b[1] - s3b[0] + 1 == 8
    assert 4 not in got and 5 not in got


def test_embedding_quantize_matches_hand_model(spark, tmp_path):
    """int8 symmetric quantization: scale = max|x|/127, code = floor(x/scale),
    rmse over the reconstruction; the all-zero vector degrades gracefully."""
    import math

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0], 0),
        (1, [0.0, 0.0, 0.0, 0.0], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["vec_id"]: r for r in
           q_embedding_quantize(spark, str(tmp_path)).collect()}

    def model(vec):
        sc = max(max(abs(x) for x in vec), 1e-12) / 127.0
        err2 = [(x - math.floor(x / sc) * sc) ** 2 for x in vec]
        return round(sc, 6), round(math.sqrt(sum(err2) / len(vec)), 6)

    sc0, rmse0 = model(rows[0][1])
    assert abs(out[0]["qscale"] - sc0) < 1e-12
    assert abs(out[0]["rmse"] - rmse0) < 1e-12
    assert rmse0 > 0                       # floor quantization loses something
    assert out[0]["rmse"] < sc0            # ...but less than one step per dim
    assert out[1]["rmse"] == 0.0           # zero vector reconstructs exactly


def test_ann_quantized_recall_high_on_corpus(spark, tmp_path):
    """int8 ADC search keeps recall near-perfect on well-spread vectors;
    output is one row per query vector with recall in [0,1]."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)], 0)
            for i in range(80)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["qid"]: r["recall"] for r in
           q_ann_quantized_recall(spark, str(tmp_path)).collect()}
    assert set(out) == set(range(_RECALL_NQ))
    assert all(0.0 <= v <= 1.0 for v in out.values())
    # int8 over gaussian vectors: near-exact ranking
    assert sum(out.values()) / len(out) >= 0.9


def test_ivf_quantized_recall_monotone_and_converges_to_adc(spark):
    """The fused IVF × int8 serving shape: per-query recall@10 is monotone
    in nprobe (candidate supersets under the shared comparator), and at
    nprobe == _IVF_K (every cell probed) the fused search IS brute-force
    ADC — recall must equal q_ann_quantized_recall's exactly, so the only
    loss left is the measured quantization loss (~0.995 mean on sf data),
    never the cell routing."""
    from search_engine_spark.catalog.ann import (
        _IVF_K, ivf_quantized_recall, q_ann_quantized_recall, _RECALL_NQ,
    )

    sf = "/root/testdata/sf0.001"
    by_np = {}
    for np_ in (1, 2, _IVF_K):
        by_np[np_] = {
            r["qid"]: r["recall"]
            for r in ivf_quantized_recall(spark, sf, nprobe=np_).collect()
        }
    assert len(by_np[1]) == _RECALL_NQ
    for q in by_np[1]:
        assert by_np[1][q] <= by_np[2][q] <= by_np[_IVF_K][q]

    adc = {r["qid"]: r["recall"]
           for r in q_ann_quantized_recall(spark, sf).collect()}
    assert by_np[_IVF_K] == adc
    mean_adc = sum(adc.values()) / len(adc)
    assert mean_adc >= 0.99       # the measured ADC floor on sf data
    # cell routing at the serving nprobe costs recall vs exhaustive —
    # the trade-off must be visible and bounded, not degenerate
    mean2 = sum(by_np[2].values()) / len(by_np[2])
    assert 0.2 <= mean2 <= mean_adc
