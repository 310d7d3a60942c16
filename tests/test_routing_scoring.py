"""The invariant that makes block-max WAND correct, checked on
wand_prune_stats: pruning is lossless (no pruned doc scores >= theta)."""

import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ir import (
    q_wand_prune_stats, _WAND_BLOCK, _WAND_K, _WAND_PAIRS,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    rows = duckdb.sql(
        f"SELECT doc_id, text, source FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    return {
        d: ([x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x], s)
        for d, t, s in rows
    }


def test_wand_prune_is_lossless(spark):
    """The graded invariant: every pruned doc's TRUE score is < theta,
    so block-max skipping never changes the top-k."""
    docs = _docs()
    tf = {d: Counter(toks) for d, (toks, _s) in docs.items()}
    dl = {d: len(toks) for d, (toks, _s) in docs.items()}
    n = len(docs)
    avgdl = sum(dl.values()) / n
    terms = sorted({t for p in _WAND_PAIRS for t in p})
    df = Counter()
    for c in tf.values():
        for t in terms:
            if c.get(t):
                df[t] += 1

    def bm25(t, d):
        f = tf[d].get(t, 0)
        if not f:
            return None
        idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        return round(
            idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)), 4
        )

    got = {
        r.pair: (r.theta, r.n_candidates, r.n_pruned, r.prune_pct)
        for r in q_wand_prune_stats(spark, SF_DIR).collect()
    }
    assert set(got) == {f"{a}+{b}" for a, b in _WAND_PAIRS}
    for a, b in _WAND_PAIRS:
        tot = {}
        for d in tf:
            s = sum(x for x in (bm25(a, d), bm25(b, d)) if x is not None)
            if s:
                tot[d] = s
        top = sorted(tot.items(), key=lambda kv: (-kv[1], kv[0]))[: _WAND_K]
        theta = min(s for _d, s in top)
        bmax = defaultdict(float)
        for d, s_tot in tot.items():
            blk = d // _WAND_BLOCK
            for t in (a, b):
                s = bm25(t, d)
                if s is not None:
                    bmax[(t, blk)] = max(bmax[(t, blk)], s)
        pruned = [
            d for d in tot
            if bmax.get((a, d // _WAND_BLOCK), 0.0)
            + bmax.get((b, d // _WAND_BLOCK), 0.0) < theta
        ]
        g_theta, g_cand, g_pruned, g_pct = got[f"{a}+{b}"]
        assert g_theta == theta
        assert g_cand == len(tot)
        assert g_pruned == len(pruned)
        assert g_pct == round(len(pruned) / len(tot), 4)
        # losslessness: no pruned doc reaches theta
        assert all(tot[d] < theta for d in pruned)
