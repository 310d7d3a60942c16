"""Pure-Python twins for kl_drift, containment, and freshness_rank."""

import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.ir import (
    _FRESH_TAU, q_freshness_rank, _scored,
)
from search_engine_spark.catalog.dedup import (
    _CONTAIN_MIN, q_containment, _SHINGLE_DF_CAP,
)
from search_engine_spark.catalog.corpus import _KL_ALPHA, q_kl_drift

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        "SELECT doc_id, text, source FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# kl_drift
# ---------------------------------------------------------------------------

def test_kl_drift_matches_direct_full_vocab_sum(spark):
    """The closed-form smoothing fold must equal the textbook full-vocab
    KL sum computed naively in Python."""
    rows = _docs()
    per_src, corpus = {}, Counter()
    for _d, text, src in rows:
        ts = _toks(text)
        per_src.setdefault(src, Counter()).update(ts)
        corpus.update(ts)
    v = len(corpus)
    t = sum(corpus.values())
    a = _KL_ALPHA
    want = {}
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        kl = 0.0
        for w in corpus:  # full vocabulary, naive
            p = (cnt.get(w, 0) + a) / (n + a * v)
            q = (corpus[w] + a) / (t + a * v)
            kl += p * math.log(p / q)
        want[src] = (n, round(kl, 4))
    got = {
        r.source: (r.n_tokens, r.kl)
        for r in q_kl_drift(spark, SF_DIR).collect()
    }
    assert got == want


def test_kl_drift_nonnegative(spark):
    for r in q_kl_drift(spark, SF_DIR).collect():
        assert r.kl >= -1e-4  # KL ≥ 0 up to the 4-decimal rounding


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------

def _shingle_sets():
    rows = _docs()
    sets = {}
    for d, text, _s in rows:
        ts = _toks(text)
        sh = {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}
        if sh:
            sets[d] = sh
    df = Counter()
    for sh in sets.values():
        df.update(sh)
    return {
        d: {s for s in sh if df[s] <= _SHINGLE_DF_CAP}
        for d, sh in sets.items()
    }


def test_containment_matches_python_twin(spark):
    sets = _shingle_sets()
    ids = sorted(sets)
    rows = []
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            inter = len(sets[da] & sets[db])
            if not inter:
                continue
            for contained, container, sz in (
                (da, db, len(sets[da])),
                (db, da, len(sets[db])),
            ):
                c = round(inter / sz, 4)
                if c >= _CONTAIN_MIN:
                    rows.append((contained, container, c))
    want = sorted(rows, key=lambda r: (-r[2], r[0], r[1]))[:20]
    got = [
        (r.contained, r.container, r.containment)
        for r in q_containment(spark, SF_DIR).collect()
    ]
    assert got == want


def test_containment_is_asymmetric_and_bounded(spark):
    for r in q_containment(spark, SF_DIR).collect():
        assert _CONTAIN_MIN <= r.containment <= 1.0
        assert r.contained != r.container


# ---------------------------------------------------------------------------
# freshness_rank
# ---------------------------------------------------------------------------

def test_freshness_rank_matches_python_twin(spark):
    rows = _docs()
    toks = {d: _toks(t) for d, t, _s in rows}
    dls = {d: len(v) for d, v in toks.items() if v}
    n, avgdl = len(dls), sum(dls.values()) / len(dls)
    tf = {d: v.count("merge") for d, v in toks.items() if "merge" in v}
    df = len(tf)
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    scored = []
    for d, f in tf.items():
        w = idf * (f * 2.2) / (f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl))
        age = d % 365
        scored.append(
            (d, age, round(w * math.exp(-age / _FRESH_TAU), 4))
        )
    want = sorted(scored, key=lambda r: (-r[2], r[0]))[:10]
    got = [
        (r.doc_id, r.age_days, r.score)
        for r in q_freshness_rank(spark, SF_DIR).collect()
    ]
    assert got == want


def test_freshness_decay_reorders_but_never_invents(spark):
    """Every freshness-ranked doc must be a plain BM25 match for the term."""
    fresh = {r.doc_id for r in q_freshness_rank(spark, SF_DIR).collect()}
    base = {
        r.doc_id
        for r in _scored(spark, SF_DIR, ["merge"])
        .filter("term = 'merge'")
        .collect()
    }
    assert fresh <= base
