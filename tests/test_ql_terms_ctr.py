"""Pure-Python twins for query_likelihood, related_terms, and ctr_model."""

import contextlib
import io
import json
import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.ir import (
    q_query_likelihood, q_related_terms, _QL_MU, _QL_TERMS, _RT_MAX_DF,
    _RT_MIN_DF,
)
from search_engine_spark.catalog.events import _CTR_A, _CTR_B, q_ctr_model

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# query_likelihood
# ---------------------------------------------------------------------------

def test_query_likelihood_matches_python_twin(spark):
    con = _con()
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    toks = {d: _toks(t) for d, t in docs}
    total = sum(len(v) for v in toks.values())
    mu = _QL_MU
    p = {
        q: sum(v.count(q) for v in toks.values()) / total
        for q in _QL_TERMS
    }
    scored = []
    for d, v in toks.items():
        if not v:
            continue
        s = sum(
            math.log((v.count(q) + mu * p[q]) / (len(v) + mu))
            for q in _QL_TERMS
        )
        scored.append((d, round(s, 4)))
    want = sorted(scored, key=lambda r: (-r[1], r[0]))[:10]
    got = [
        (r.doc_id, r.score)
        for r in q_query_likelihood(spark, SF_DIR).collect()
    ]
    assert got == want


def test_query_likelihood_smoothing_identity(spark):
    """The matched-correction reshaping must equal the textbook direct
    form — verified by the twin above; here assert the plan never outer
    joins the corpus against the query terms (the WAND-ability claim):
    only a LEFT join of dl with the small matched-correction side."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_query_likelihood(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# related_terms
# ---------------------------------------------------------------------------

def test_related_terms_matches_python_twin(spark):
    con = _con()
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    postings = {}
    for d, t in docs:
        for term in set(_toks(t)):
            postings.setdefault(term, set()).add(d)
    band = {
        t: s
        for t, s in postings.items()
        if _RT_MIN_DF <= len(s) < _RT_MAX_DF
    }
    terms = sorted(band)
    rows = []
    for i in range(len(terms)):
        for j in range(i + 1, len(terms)):
            a, b = terms[i], terms[j]
            inter = len(band[a] & band[b])
            if inter:
                jac = inter / (len(band[a]) + len(band[b]) - inter)
                rows.append((a, b, inter, round(jac, 4)))
    want = sorted(rows, key=lambda r: (-r[3], r[0], r[1]))[:20]
    got = [
        (r.term_a, r.term_b, r.inter, r.jaccard)
        for r in q_related_terms(spark, SF_DIR).collect()
    ]
    assert got == want


def test_related_terms_band_excludes_extremes(spark):
    """Every returned term must sit inside the df band — the pre-pair
    guard that bounds the self-join."""
    con = _con()
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    df = Counter()
    for _d, t in docs:
        df.update(set(_toks(t)))
    for r in q_related_terms(spark, SF_DIR).collect():
        for t in (r.term_a, r.term_b):
            assert _RT_MIN_DF <= df[t] < _RT_MAX_DF


# ---------------------------------------------------------------------------
# ctr_model
# ---------------------------------------------------------------------------

def test_ctr_model_matches_python_twin(spark):
    con = _con()
    ev = con.execute("SELECT event_type, props FROM events").fetchall()
    views, clicks = Counter(), Counter()
    for et, props in ev:
        item = int(json.loads(props)["k"])
        if et == "view":
            views[item] += 1
        elif et == "click":
            clicks[item] += 1
    rows = [
        (
            item,
            v,
            clicks.get(item, 0),
            round(
                (clicks.get(item, 0) + _CTR_A)
                / (v + _CTR_A + _CTR_B),
                4,
            ),
        )
        for item, v in views.items()
    ]
    want = sorted(rows, key=lambda r: (-r[3], r[0]))
    got = [
        (r.item, r.views, r.clicks, r.ctr)
        for r in q_ctr_model(spark, SF_DIR).collect()
    ]
    assert got == want


def test_ctr_model_shrinks_low_traffic(spark):
    """The Beta prior must pull every item's CTR toward the prior mean
    α/(α+β), harder the fewer views it has."""
    prior = _CTR_A / (_CTR_A + _CTR_B)
    for r in q_ctr_model(spark, SF_DIR).collect():
        raw = r.clicks / r.views if r.views else 0.0
        # smoothed value sits between raw rate and the prior
        lo, hi = sorted((raw, prior))
        assert lo - 1e-4 <= r.ctr <= hi + 1e-4
