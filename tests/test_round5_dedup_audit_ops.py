"""Pure-Python twins for round-5 batch 31: dedup_chain_drift,
dedup_rank_impact."""

import hashlib
import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ir import B, K1
from search_engine_spark.catalog.dedup import (
    _CHAIN_TOPK, _LSH_BAND_CAP, _LSH_TRUE_TAU, q_dedup_chain_drift,
    q_dedup_rank_impact, _RANKIMPACT_K, _RANKIMPACT_TERMS, _SHINGLE_DF_CAP,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    return duckdb.connect().execute(
        f"SELECT doc_id, text "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _shingle_sets(docs):
    sh = {}
    for d, txt in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        sh[d] = set(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))
    return sh


def _lsh_clusters(sh):
    """Band-capped LSH pairs -> connected components (min label)."""
    bands = defaultdict(set)
    for d, s in sh.items():
        if not s:
            continue
        for i in range(4):
            sig = min(
                hashlib.md5(f"{i}:{g}".encode()).hexdigest() for g in s
            )
            bands[sig].add(d)
    adj = defaultdict(set)
    for members in bands.values():
        if len(members) > _LSH_BAND_CAP:
            continue
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                adj[a].add(b)
                adj[b].add(a)
    lbl = {}
    for start in sorted(adj):
        if start in lbl:
            continue
        comp, stack = [], [start]
        seen = {start}
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        root = min(comp)
        for x in comp:
            lbl[x] = root
    return lbl


def test_dedup_chain_drift_matches_twin(spark):
    docs = _docs()
    sh = _shingle_sets(docs)
    lbl = _lsh_clusters(sh)
    df = Counter()
    for s in sh.values():
        df.update(s)
    capped = {
        d: {g for g in s if df[g] <= _SHINGLE_DF_CAP}
        for d, s in sh.items()
    }
    members = defaultdict(list)
    for d, c in lbl.items():
        members[c].append(d)
    rows = []
    for c, ms in members.items():
        ms = sorted(ms)
        js = []
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                inter = len(capped[a] & capped[b])
                js.append(
                    inter / len(capped[a] | capped[b]) if inter else 0.0
                )
        below = sum(1 for j in js if j < _LSH_TRUE_TAU)
        rows.append((c, len(ms), len(js), min(js),
                     sum(js) / len(js), below / len(js)))
    rows.sort(key=lambda r: (-r[1], r[0]))
    expected = [
        (c, n, p, round(mn, 4), round(me, 4), round(fb, 4))
        for c, n, p, mn, me, fb in rows[:_CHAIN_TOPK]
    ]
    got = [
        (r.cluster, r.n_members, r.n_pairs, r.min_jaccard,
         r.mean_jaccard, r.frac_below_tau)
        for r in q_dedup_chain_drift(spark, SF_DIR).collect()
    ]
    assert got == expected
    # the audit's invariants: min <= mean, fractions in [0, 1]
    for r in got:
        assert r[3] <= r[4] + 1e-9
        assert 0.0 <= r[5] <= 1.0


def _bm25_topk(doc_terms, terms, k):
    tf = defaultdict(Counter)
    dl = {}
    for d, toks in doc_terms.items():
        dl[d] = len(toks)
        for t in toks:
            tf[t][d] += 1
    n = len(doc_terms)
    avgdl = sum(dl.values()) / n
    out = {}
    for t in terms:
        scored = []
        dfv = len(tf[t])
        for d, f in tf[t].items():
            idf = math.log((n - dfv + 0.5) / (dfv + 0.5) + 1.0)
            s = idf * (f * (K1 + 1.0)) / (
                f + K1 * (1.0 - B + B * dl[d] / avgdl)
            )
            scored.append((round(s, 4), d))
        scored.sort(key=lambda x: (-x[0], x[1]))
        out[t] = [d for _s, d in scored[:k]]
    return out


def test_dedup_rank_impact_matches_twin(spark):
    docs = _docs()
    doc_terms = {
        d: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        for d, txt in docs
    }
    dfc = Counter()
    for toks in doc_terms.values():
        dfc.update(set(toks))
    top = sorted(dfc.items(), key=lambda kv: (-kv[1], kv[0]))
    terms = [t for t, _c in top[:_RANKIMPACT_TERMS]]

    sh = _shingle_sets(docs)
    lbl = _lsh_clusters(sh)
    dropped = {d for d, c in lbl.items() if d != c}
    keep_terms = {
        d: toks for d, toks in doc_terms.items() if d not in dropped
    }
    full_top = _bm25_topk(doc_terms, terms, _RANKIMPACT_K)
    keep_top = _bm25_topk(keep_terms, terms, _RANKIMPACT_K)
    got = q_dedup_rank_impact(spark, SF_DIR).collect()
    assert [r.term for r in got] == sorted(terms)
    for r in got:
        ov = len(set(full_top[r.term]) & set(keep_top[r.term]))
        rm = sum(1 for d in full_top[r.term] if d in dropped)
        assert (r.overlap_at_k, r.n_removed_by_dedup) == (ov, rm)
        # every removed doc is an overlap opportunity lost
        assert r.overlap_at_k <= _RANKIMPACT_K - 0  # bounded
        assert r.overlap_at_k + r.n_removed_by_dedup <= _RANKIMPACT_K
