"""Pure-Python twin for round-5 batch 36: bm25_explain."""

import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.ir import B, K1, q_bm25_and, q_bm25_explain

SF_DIR = "/root/testdata/sf0.001"


def test_bm25_explain_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    tf = {}
    dl = {}
    df = Counter()
    for d, txt in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        dl[d] = len(toks)
        c = Counter(toks)
        tf[d] = c
        for t in set(toks):
            df[t] += 1
    n = len(rows)
    avgdl = sum(dl.values()) / n

    def score(term, d):
        f = tf[d].get(term, 0)
        if not f:
            return None
        idf = math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
        return idf * (f * (K1 + 1.0)) / (
            f + K1 * (1.0 - B + B * dl[d] / avgdl)
        )

    both = [
        d for d in tf
        if tf[d].get("merge") and tf[d].get("join")
    ]
    totals = {
        d: round(score("merge", d) + score("join", d), 4) for d in both
    }
    top = sorted(both, key=lambda d: (-totals[d], d))[:10]
    got = q_bm25_explain(spark, SF_DIR).collect()
    assert len(got) == 2 * len(top)
    for r in got:
        d = top[r.rank - 1]
        assert r.doc_id == d
        assert r.tf == tf[d][r.term]
        s = score(r.term, d)
        assert abs(r.contribution - s) < 1e-3
        assert abs(r.share - s / totals[d]) < 1e-3
        assert r.doc_score == totals[d]
    # shares within a doc sum to ~1 and the decomposition reproduces
    # the bm25_and totals exactly
    per_doc = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append(r.share)
    for shares in per_doc.values():
        assert abs(sum(shares) - 1.0) < 5e-3
    and_top = {
        r.doc_id: r.score
        for r in q_bm25_and(spark, SF_DIR).collect()
    }
    for r in got:
        assert and_top[r.doc_id] == r.doc_score
