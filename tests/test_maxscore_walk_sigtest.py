"""Pure-Python twins and invariants for MaxScore pruning stats, the
click-graph random walk, and the exact sign-flip permutation test."""

import math
import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ir import (
    _MS_K, _MS_QUERIES, q_maxscore_prune_stats,
)

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


def _bm25_scores(docs, terms):
    """{term: {doc_id: round(score, 4)}} under the plain-analyzer BM25
    the driver entries share (k1=1.2, b=0.75, Lucene idf)."""
    n = len(docs)
    dl = {d: len(v) for d, v in docs.items()}
    avgdl = sum(dl.values()) / n
    out = {}
    for t in terms:
        tf = {d: v.count(t) for d, v in docs.items() if t in v}
        df = len(tf)
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        out[t] = {
            d: round(
                idf * (f * (1.2 + 1.0))
                / (f + 1.2 * (1.0 - 0.75 + 0.75 * dl[d] / avgdl)),
                4,
            )
            for d, f in tf.items()
        }
    return out


def test_maxscore_is_lossless_and_matches_twin(spark):
    docs = _doc_tokens()
    got = {
        r.q: r
        for r in q_maxscore_prune_stats(spark, SF_DIR).collect()
    }
    assert set(got) == {f"{a}+{b}+{c}" for a, b, c in _MS_QUERIES}
    for qt in _MS_QUERIES:
        qname = "+".join(qt)
        s = _bm25_scores(docs, qt)
        tot = defaultdict(float)
        for t in qt:
            for d, v in s[t].items():
                tot[d] += v
        tot = {d: round(v, 4) for d, v in tot.items()}
        ranked = sorted(tot.items(), key=lambda kv: (-kv[1], kv[0]))
        theta = ranked[_MS_K - 1][1]
        tmax = sorted(
            ((max(s[t].values()), t) for t in qt if s[t])
        )
        cum, essential = 0.0, set()
        for m, t in tmax:
            cum = round(cum + m, 4)
            if cum >= theta:
                essential.add(t)
        skippable = [
            d for d in tot
            if not any(d in s[t] for t in essential)
        ]
        r = got[qname]
        assert r.theta == theta
        assert r.n_terms == 3
        assert r.n_essential == len(essential)
        assert r.n_candidates == len(tot)
        assert r.n_skippable == len(skippable)
        assert r.skip_pct == round(len(skippable) / len(tot), 4)
        # losslessness: every skipped doc's true OR score is below theta,
        # so MaxScore never drops a top-k document
        assert all(tot[d] < theta for d in skippable)
        # the essential set is never empty (the top-k docs must be
        # reachable through at least one scored list)
        assert r.n_essential >= 1
