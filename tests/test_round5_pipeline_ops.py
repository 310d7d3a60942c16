"""Pure-Python twins for skip_cost_model, perplexity_buckets and
gopher_quality."""

import math
import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ir import q_skip_cost_model, _SKIP_PAIRS
from search_engine_spark.catalog.quality import (
    _EN_STOPS, _GOPHER_MAX_MWL, _GOPHER_MAX_WORDS, _GOPHER_MIN_MWL,
    _GOPHER_MIN_STOPS, _GOPHER_MIN_WORDS, q_gopher_quality,
    q_perplexity_buckets,
)

SF_DIR = "/root/testdata/sf0.001"


def _toks():
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    return {
        d: [t for t in re.split(r"[^a-z0-9]+", (t_ or "").lower()) if t]
        for d, t_ in rows
    }


# ---------------------------------------------------------------------------
# skip_cost_model
# ---------------------------------------------------------------------------

def test_skip_cost_model_matches_twin(spark):
    toks = _toks()
    dfs = defaultdict(int)
    for _d, ts in toks.items():
        for t in set(ts):
            dfs[t] += 1
    want = []
    for qa, qb in sorted(_SKIP_PAIRS):
        a, b = dfs[qa], dfs[qb]
        p, l = min(a, b), max(a, b)
        s = math.ceil(math.sqrt(l))
        skip = p * s + math.ceil(l / s)
        opt = math.ceil(2.0 * math.sqrt(p * l))
        want.append(
            (qa, qb, a, b, a + b, s, skip, opt,
             round(1.0 - skip / (a + b), 4), round(1.0 - opt / (a + b), 4))
        )
    got = [tuple(r) for r in q_skip_cost_model(spark, SF_DIR).collect()]
    assert got == want
    for row in got:
        # the optimal skip length can never cost more than the fixed one
        assert row[7] <= row[6]


# ---------------------------------------------------------------------------
# perplexity_buckets
# ---------------------------------------------------------------------------

def _xents():
    toks = _toks()
    ct = defaultdict(int)
    for ts in toks.values():
        for t in ts:
            ct[t] += 1
    tot = sum(ct.values())
    out = {}
    for d, ts in toks.items():
        if not ts:
            continue
        x = sum(-math.log(ct[t] / tot) for t in ts) / len(ts)
        out[d] = (len(ts), round(x, 4))
    return out


def _quantile_cont(vals, p):
    v = sorted(vals)
    h = p * (len(v) - 1)
    lo = math.floor(h)
    return v[lo] + (h - lo) * (v[min(lo + 1, len(v) - 1)] - v[lo])


def test_perplexity_buckets_matches_twin(spark):
    xents = _xents()
    vals = [x for _n, x in xents.values()]
    t1 = _quantile_cont(vals, 0.3333333333333333)
    t2 = _quantile_cont(vals, 0.6666666666666666)
    want = {}
    for _d, (n, x) in xents.items():
        b = "head" if x <= t1 else ("middle" if x <= t2 else "tail")
        c = want.setdefault(b, [0, 0, math.inf, -math.inf])
        c[0] += 1
        c[1] += n
        c[2] = min(c[2], x)
        c[3] = max(c[3], x)
    got = {
        r.bucket: [r.n_docs, r.n_tokens, r.min_xent, r.max_xent]
        for r in q_perplexity_buckets(spark, SF_DIR).collect()
    }
    assert got == want
    # the CCNet partition is a partition: thirds cover the corpus
    assert sum(v[0] for v in got.values()) == len(xents)
    assert got["head"][3] <= got["middle"][2] <= got["middle"][3] <= got["tail"][2]


# ---------------------------------------------------------------------------
# gopher_quality
# ---------------------------------------------------------------------------

def test_gopher_quality_matches_twin(spark):
    stops = {s.strip("'") for s in _EN_STOPS.strip("()").split(",")}
    want = {}
    for d, ts in _toks().items():
        if not ts:
            continue
        n = len(ts)
        chars = sum(len(t) for t in ts)
        alpha = sum(1 for t in ts if re.search(r"[a-z]", t))
        nstop = sum(1 for t in ts if t in stops)
        ok_w = _GOPHER_MIN_WORDS <= n <= _GOPHER_MAX_WORDS
        ok_m = (
            chars * 10 >= int(_GOPHER_MIN_MWL * 10) * n
            and chars * 10 <= int(_GOPHER_MAX_MWL * 10) * n
        )
        ok_a = alpha * 5 >= n * 4
        ok_s = nstop >= _GOPHER_MIN_STOPS
        want[d] = (n, ok_w, ok_m, ok_a, ok_s,
                   ok_w and ok_m and ok_a and ok_s)
    got = {
        r.doc_id: (r.n_words, r.ok_words, r.ok_mean_len, r.ok_alpha,
                   r.ok_stops, r.keep)
        for r in q_gopher_quality(spark, SF_DIR).collect()
    }
    assert got == want
    # the battery must actually discriminate on this corpus
    keeps = [v[5] for v in got.values()]
    assert any(keeps) and not all(keeps)
