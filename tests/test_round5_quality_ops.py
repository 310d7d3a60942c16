"""Pure-Python twins for index_size_breakdown, calibration_curve and
lang_confusion."""

import math
import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ir import (
    _EN_STOPS, q_index_size_breakdown, _QC_BIAS, _QC_W_LEN, _QC_W_STOP,
    _QC_W_TTR,
)
from search_engine_spark.catalog.quality import (
    _CAL_BINS, _GOPHER_MAX_MWL, _GOPHER_MAX_WORDS, _GOPHER_MIN_MWL,
    _GOPHER_MIN_STOPS, _GOPHER_MIN_WORDS, _LANG_WORDS, q_calibration_curve,
    q_lang_confusion,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    return duckdb.connect().execute(
        f"SELECT doc_id, text, lang "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _tok(t):
    return [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]


def _vb(x):
    return (max(x.bit_length(), 1) + 6) // 7


def test_index_size_breakdown_matches_twin(spark):
    postings = defaultdict(list)     # term -> sorted doc ids
    tfs = {}
    poss = defaultdict(list)         # (term, doc) -> positions
    for d, t, _l in _docs():
        for i, term in enumerate(_tok(t), start=1):
            poss[(term, d)].append(i)
    for (term, d), ps in poss.items():
        postings[term].append(d)
        tfs[(term, d)] = len(ps)
    docids = tf_b = positions = 0
    for term, ds in postings.items():
        prev = -1
        for d in sorted(ds):
            docids += _vb(d - prev)
            tf_b += _vb(tfs[(term, d)])
            prev = d
    for (_term, _d), ps in poss.items():
        prev = 0
        for p in ps:
            positions += _vb(p - prev)
            prev = p
    tot = docids + tf_b + positions
    want = {
        "docids": (docids, round(docids / tot, 4)),
        "positions": (positions, round(positions / tot, 4)),
        "tfs": (tf_b, round(tf_b / tot, 4)),
    }
    got = {
        r.component: (r.bytes, r.share)
        for r in q_index_size_breakdown(spark, SF_DIR).collect()
    }
    assert got == want
    # every occurrence pays a position byte; docids/tfs pay per posting —
    # so positions must dominate whenever avg tf > 1
    assert got["positions"][0] >= got["docids"][0]


def _features():
    stops = {s.strip("'") for s in _EN_STOPS.strip("()").split(",")}
    out = {}
    for d, t, _l in _docs():
        ts = _tok(t)
        if not ts:
            continue
        n = len(ts)
        chars = sum(len(x) for x in ts)
        stopn = sum(1 for x in ts if x in stops)
        alpha = sum(1 for x in ts if re.search(r"[a-z]", x))
        ttr = len(set(ts)) / n
        z = (
            _QC_W_LEN * (chars / n)
            + _QC_W_STOP * (stopn / n)
            + _QC_W_TTR * ttr
            + _QC_BIAS
        )
        p = round(1.0 / (1.0 + math.exp(-z)), 4)
        keep = (
            _GOPHER_MIN_WORDS <= n <= _GOPHER_MAX_WORDS
            and chars * 10 >= int(_GOPHER_MIN_MWL * 10) * n
            and chars * 10 <= int(_GOPHER_MAX_MWL * 10) * n
            and alpha * 5 >= n * 4
            and stopn >= _GOPHER_MIN_STOPS
        )
        out[d] = (p, 1 if keep else 0)
    return out


def test_calibration_curve_matches_twin(spark):
    feats = _features()
    N = len(feats)
    bins = defaultdict(lambda: [0, 0.0, 0])
    for p, y in feats.values():
        b = min(int(p * _CAL_BINS), _CAL_BINS - 1)
        bins[b][0] += 1
        bins[b][1] += p
        bins[b][2] += y
    got = {
        r.bin: (r.n, r.mean_conf, r.frac_pos, r.ece_part)
        for r in q_calibration_curve(spark, SF_DIR).collect()
    }
    assert set(got) == set(bins)
    for b, (n, sp, sy) in bins.items():
        gn, mc, fp, ep = got[b]
        assert gn == n
        assert abs(mc - sp / n) < 1e-3
        assert fp == round(sy / n, 4)
        assert abs(ep - abs(sy / n - sp / n) * n / N) < 1e-3
    # ECE is a weighted mean of per-bin gaps -> bounded by the max gap
    ece = sum(v[3] for v in got.values())
    assert 0.0 <= ece <= max(
        abs(v[2] - v[1]) for v in got.values()
    ) + 1e-9


def test_lang_confusion_matches_twin(spark):
    mat = defaultdict(int)
    per_true = defaultdict(int)
    for _d, t, l in _docs():
        ts = _tok(t)
        counts = {
            lang: sum(1 for x in ts if x in set(ws))
            for lang, ws in _LANG_WORDS.items()
        }
        en, de, fr = counts.get("en", 0), counts.get("de", 0), counts.get("fr", 0)
        if en >= de and en >= fr and en > 0:
            pred = "en"
        elif de >= fr and de > 0:
            pred = "de"
        elif fr > 0:
            pred = "fr"
        else:
            pred = "und"
        mat[(l, pred)] += 1
        per_true[l] += 1
    want = {
        (t, p): (n, round(n / per_true[t], 4))
        for (t, p), n in mat.items()
    }
    got = {
        (r.true_lang, r.pred_lang): (r.n, r.frac_of_true)
        for r in q_lang_confusion(spark, SF_DIR).collect()
    }
    assert got == want
    # rows of the matrix partition each true class exactly
    by_true = defaultdict(int)
    for (t, _p), (n, _f) in got.items():
        by_true[t] += n
    assert by_true == dict(per_true)
