"""Pure-Python twins for the round-5 closing batch 19:
classifier_pr_sweep, lsh_tuning_curve."""

import math
import re

import duckdb

from search_engine_spark.catalog.dedup import (
    _LSH_CONFIGS, q_lsh_tuning_curve, q_ngram_jaccard,
)
from search_engine_spark.catalog.quality import (
    _EN_STOPS, _GOPHER_MAX_MWL, _GOPHER_MAX_WORDS, _GOPHER_MIN_MWL,
    _GOPHER_MIN_STOPS, _GOPHER_MIN_WORDS, _PRS_THRESHOLDS,
    q_classifier_pr_sweep, _QC_BIAS, _QC_W_LEN, _QC_W_STOP, _QC_W_TTR,
)

SF_DIR = "/root/testdata/sf0.001"


def _scored_labels():
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    stops = {s.strip("'") for s in _EN_STOPS.strip("()").split(",")}
    out = []
    for _d, t in rows:
        ts = [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]
        if not ts:
            continue
        n = len(ts)
        chars = sum(len(x) for x in ts)
        stopn = sum(1 for x in ts if x in stops)
        alpha = sum(1 for x in ts if re.search(r"[a-z]", x))
        z = (
            _QC_W_LEN * (chars / n)
            + _QC_W_STOP * (stopn / n)
            + _QC_W_TTR * (len(set(ts)) / n)
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
        out.append((p, 1 if keep else 0))
    return out


def test_classifier_pr_sweep_matches_twin(spark):
    data = _scored_labels()
    want = {}
    for t in _PRS_THRESHOLDS:
        tp = sum(1 for p, y in data if p >= t and y)
        fp = sum(1 for p, y in data if p >= t and not y)
        fn = sum(1 for p, y in data if p < t and y)
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        want[t] = (tp, fp, fn, round(prec, 4), round(rec, 4),
                   round(f1, 4))
    got = {
        r.threshold: (r.tp, r.fp, r.fn, r.precision, r.recall, r.f1)
        for r in q_classifier_pr_sweep(spark, SF_DIR).collect()
    }
    assert got == want
    # recall is monotone non-increasing as the threshold rises
    recalls = [got[t][4] for t in sorted(got)]
    assert recalls == sorted(recalls, reverse=True)


def test_lsh_tuning_curve_matches_twin(spark):
    sims = [
        r.jaccard for r in q_ngram_jaccard(spark, SF_DIR).collect()
    ]
    want = {}
    for b, r_ in _LSH_CONFIGS:
        s50 = round((1.0 / b) ** (1.0 / r_), 4)
        exp = sum(1.0 - (1.0 - s ** r_) ** b for s in sims)
        above = sum(1 for s in sims if s >= (1.0 / b) ** (1.0 / r_))
        want[(b, r_)] = (s50, len(sims), above, round(exp, 4))
    got = {
        (r.b, r.r): (r.s50, r.n_pairs, r.n_above_s50,
                     r.expected_collisions)
        for r in q_lsh_tuning_curve(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3]
        assert abs(got[k][3] - want[k][3]) < 1e-3
    # more rows per band -> a HIGHER collision threshold (the S-curve
    # moves right as r grows at fixed b*r)
    s50s = [got[(b, r_)][0] for b, r_ in sorted(_LSH_CONFIGS)]
    assert s50s == sorted(s50s, reverse=True)
