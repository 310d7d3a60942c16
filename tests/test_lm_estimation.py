"""Pure-Python twins for the LM-estimation entries: interpolated
Kneser-Ney bigram probabilities and stopword induction — plus the
probability-mass invariant that makes the smoother correct."""

import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.quality import _KN_D, _KN_PROBES, q_kneser_ney
from search_engine_spark.catalog.corpus import q_stopword_induction, _STOP_TOPN

SF_DIR = "/root/testdata/sf0.001"


def _doc_tokens():
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    return {
        d: [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]
        for d, t in rows
    }


def _bigrams():
    bi = Counter()
    for toks in _doc_tokens().values():
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] += 1
    return bi


def test_kneser_ney_matches_python_twin(spark):
    bi = _bigrams()
    c1 = Counter()
    n1f = Counter()
    n1b = Counter()
    for (a, b), c in bi.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    nt = len(bi)
    D = _KN_D
    want = []
    for w1, w2 in sorted(_KN_PROBES):
        c12 = bi.get((w1, w2), 0)
        p = (
            max(c12 - D, 0.0) / c1[w1]
            + D * n1f[w1] / c1[w1] * (n1b[w2] / nt)
        )
        want.append((w1, w2, c12, round(p, 4)))
    got = [
        (r.w1, r.w2, r.c12, r.p_kn)
        for r in q_kneser_ney(spark, SF_DIR).collect()
    ]
    assert got == want
    assert all(0.0 < p < 1.0 for _a, _b, _c, p in got)


def test_kneser_ney_mass_sums_to_one():
    # the invariant that makes KN a probability distribution: for any
    # history w1, sum over ALL observed w2 plus backoff mass == 1
    bi = _bigrams()
    c1 = Counter()
    n1f = Counter()
    n1b = Counter()
    for (a, b), c in bi.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    nt = len(bi)
    D = _KN_D
    w1 = max(c1, key=lambda w: c1[w])
    total = sum(
        max(bi[(a, b)] - D, 0.0) / c1[w1]
        + D * n1f[w1] / c1[w1] * (n1b[b] / nt)
        for (a, b) in bi
        if a == w1
    )
    # observed continuations cover sum(n1b)/nt of the continuation
    # distribution; add the unobserved-continuation backoff remainder
    cont_covered = sum(n1b[b] for (a, b) in bi if a == w1) / nt
    total += D * n1f[w1] / c1[w1] * (1.0 - cont_covered)
    assert abs(total - 1.0) < 1e-9


def test_stopword_induction_matches_python_twin(spark):
    docs = _doc_tokens()
    df = Counter()
    for toks in docs.values():
        for t in set(toks):
            df[t] += 1
    n = len(docs)
    ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[
        : _STOP_TOPN
    ]
    want = [
        (
            t,
            d,
            round(d / n, 4),
            round(math.log((n - d + 0.5) / (d + 0.5) + 1.0), 4),
        )
        for t, d in ranked
    ]
    got = [
        (r.term, r.df, r.df_ratio, r.idf)
        for r in q_stopword_induction(spark, SF_DIR).collect()
    ]
    assert got == want
    # induced stopwords are the near-universal terms: idf ~ 0 relative
    # to a rare term's idf
    rare_idf = math.log((n - 1 + 0.5) / 1.5 + 1.0)
    assert all(i < rare_idf / 2 for _t, _d, _r, i in got)
