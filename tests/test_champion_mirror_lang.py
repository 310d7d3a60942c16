"""Pure-Python twins for champion_topk and lang_consistency."""

import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from search_engine_spark.catalog.ir import (
    _CHAMPION_C, _CHAMPION_TERMS, q_champion_topk,
)
from search_engine_spark.catalog.quality import q_lang_consistency

SF_DIR = "/root/testdata/sf0.001"

_WORD = re.compile(r"[^a-z0-9]+")


def _doc_words():
    t = pq.read_table(
        SF_DIR + "/documents.parquet", columns=["doc_id", "source", "text"]
    ).to_pylist()
    return [
        (r["doc_id"], r["source"], [w for w in _WORD.split(r["text"].lower()) if w])
        for r in t
    ]


# ---------------------------------------------------------------------------
# champion_topk
# ---------------------------------------------------------------------------

def _bm25(tf, df, n_docs, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _champion_twin():
    docs = _doc_words()
    dl = {d: len(ws) for d, _s, ws in docs}
    n_docs, avgdl = len(dl), sum(dl.values()) / len(dl)
    per_term = {}
    for term in _CHAMPION_TERMS:
        tf = {d: ws.count(term) for d, _s, ws in docs if term in ws}
        per_term[term] = tf
    scores = defaultdict(float)
    for term, tf in per_term.items():
        df = len(tf)
        champs = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
        for d, f in champs[: _CHAMPION_C]:
            scores[d] += _bm25(f, df, n_docs, dl[d], avgdl)
    ranked = sorted(
        ((d, round(s, 4)) for d, s in scores.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return ranked[:10], per_term, dl, n_docs, avgdl


def test_champion_topk_matches_python_twin(spark):
    want, *_ = _champion_twin()
    got = [(r.doc_id, r.score) for r in
           q_champion_topk(spark, SF_DIR).collect()]
    assert got == want
    assert len(got) == 10  # fixture sanity: enough champions exist


def test_champion_scores_lower_bound_exhaustive(spark):
    """The champion cut prunes the candidate SET only: df and corpus
    stats are computed before the cut, so each (term, doc) contribution
    that survives equals its exhaustive-engine value, and a doc's total
    is exactly the exhaustive BM25 when it survives EVERY query term it
    contains, strictly less when one term's list cut it (Manning IR
    7.1.3: pruning changes recall, never surviving contributions)."""
    got = {r.doc_id: r.score for r in
           q_champion_topk(spark, SF_DIR).collect()}
    _w, per_term, dl, n_docs, avgdl = _champion_twin()
    survivors = {
        term: {
            d
            for d, _f in sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[
                : _CHAMPION_C
            ]
        }
        for term, tf in per_term.items()
    }
    saw_full = saw_partial = False
    for d, s in got.items():
        exhaustive = sum(
            _bm25(tf[d], len(tf), n_docs, dl[d], avgdl)
            for tf in per_term.values()
            if d in tf
        )
        assert s <= exhaustive + 5e-5
        full = all(
            d in survivors[t] for t, tf in per_term.items() if d in tf
        )
        if full:
            assert abs(s - exhaustive) < 5e-5
            saw_full = True
        else:
            saw_partial = True
    assert saw_full  # fixture sanity: both cases observable at sf0.001
    assert saw_partial


def test_champion_cut_is_deterministic_on_tf_ties(spark):
    """Docs tied at the cut boundary break by doc_id, so two runs (and
    the DuckDB oracle) pick the same champion set."""
    _w, per_term, *_ = _champion_twin()
    for term, tf in per_term.items():
        champs = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
        if len(champs) <= _CHAMPION_C:
            continue
        # the boundary tf must be shared by at least the cut doc — a tie
        # exists at sf0.001 for these head terms, which is what makes the
        # doc_id tiebreak observable
        cut_tf = champs[_CHAMPION_C - 1][1]
        assert champs[_CHAMPION_C][1] <= cut_tf


# ---------------------------------------------------------------------------
# lang_consistency
# ---------------------------------------------------------------------------

def test_lang_consistency_matches_python_twin(spark):
    t = pq.read_table(
        SF_DIR + "/documents.parquet", columns=["doc_id", "source", "lang"]
    ).to_pylist()
    counts = Counter((r["source"], r["lang"]) for r in t)
    tot = Counter(r["source"] for r in t)
    maj = {}
    for (src, lang), c in counts.items():
        cur = maj.get(src)
        if cur is None or (-c, lang) < (-cur[1], cur[0]):
            maj[src] = (lang, c)
    want = sorted(
        (
            r["doc_id"], r["source"], r["lang"], maj[r["source"]][0],
            round(maj[r["source"]][1] / tot[r["source"]], 4),
        )
        for r in t
        if r["lang"] != maj[r["source"]][0]
    )
    want.sort(key=lambda r: (r[1], r[0]))
    got = [
        (r.doc_id, r.source, r.lang, r.majority_lang, r.maj_frac)
        for r in q_lang_consistency(spark, SF_DIR).collect()
    ]
    assert got == want
    assert got  # fixture sanity: outliers exist at sf0.001


def test_lang_majority_window_runs_over_aggregate(spark):
    """The row_number window must consume the (source, lang) histogram,
    never per-doc rows: the Window's child in the optimized plan is an
    Aggregate."""
    plan = q_lang_consistency(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    i = plan.find("Window")
    assert i != -1
    assert "Aggregate" in plan[i : i + 2000]
