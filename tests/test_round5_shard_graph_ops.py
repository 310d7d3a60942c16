"""Pure-Python twins for community_conductance and embedding_drift."""

import math
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ann import q_embedding_drift
from search_engine_spark.catalog.graph import (
    _COND_TOPK, _LPA_ITERS, _PR_RULES, q_community_conductance,
)

SF_DIR = "/root/testdata/sf0.001"


def _und_edges_and_nodes():
    rows = duckdb.connect().execute(
        f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    nodes = sorted(d for (d,) in rows)
    n = len(nodes)
    und = set()
    for i in nodes:
        for m, b in _PR_RULES:
            j = (m * i + b) % n
            if i != j:
                und.add((min(i, j), max(i, j)))
    return nodes, und


def _lpa_labels(nodes, und):
    nbrs = defaultdict(set)
    for lo, hi in und:
        nbrs[lo].add(hi)
        nbrs[hi].add(lo)
    lbl = {i: i for i in nodes}
    for _ in range(_LPA_ITERS):
        new = {}
        for i in nodes:
            if not nbrs[i]:
                new[i] = lbl[i]
                continue
            cnt = Counter(lbl[j] for j in nbrs[i])
            new[i] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        lbl = new
    return lbl, nbrs


def test_community_conductance_matches_twin(spark):
    nodes, und = _und_edges_and_nodes()
    lbl, nbrs = _lpa_labels(nodes, und)
    m = len(und)
    vol, cut, nsz = Counter(), Counter(), Counter()
    for i in nodes:
        nsz[lbl[i]] += 1
    for lo, hi in und:
        vol[lbl[lo]] += 1
        vol[lbl[hi]] += 1
        if lbl[lo] != lbl[hi]:
            cut[lbl[lo]] += 1
            cut[lbl[hi]] += 1
    per = [
        (c, nsz[c], vol[c], cut.get(c, 0))
        for c in set(lbl.values()) if vol.get(c, 0) > 0
    ]
    per.sort(key=lambda r: (-r[1], r[0]))
    expected = [
        (c, n, v, k, round(k / min(v, 2 * m - v), 4))
        for c, n, v, k in per[:_COND_TOPK]
    ]
    got = [
        (r.community, r.n_nodes, r.vol, r.cut, r.conductance)
        for r in q_community_conductance(spark, SF_DIR).collect()
    ]
    assert got == expected
    # conductance is a fraction of the smaller side's volume
    assert all(0.0 <= r[4] <= 1.0 for r in got)


def test_embedding_drift_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT vec_id, label, embedding::DOUBLE[] "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchall()
    mid = max(v for v, _l, _e in rows) / 2.0
    sums = defaultdict(lambda: None)
    counts = Counter()
    for v, lab, e in rows:
        half = 1 if v < mid else 0
        k = (lab, half)
        counts[k] += 1
        if sums[k] is None:
            sums[k] = list(e)
        else:
            sums[k] = [a + b for a, b in zip(sums[k], e)]
    got = q_embedding_drift(spark, SF_DIR).collect()
    labels = sorted({lab for lab, _h in counts})
    assert [r.label for r in got] == labels
    for r in got:
        ca = [s / counts[(r.label, 1)] for s in sums[(r.label, 1)]]
        cb = [s / counts[(r.label, 0)] for s in sums[(r.label, 0)]]
        dot = sum(a * b for a, b in zip(ca, cb))
        na = math.sqrt(sum(a * a for a in ca))
        nb = math.sqrt(sum(b * b for b in cb))
        assert (r.n_first, r.n_second) == (
            counts[(r.label, 1)], counts[(r.label, 0)]
        )
        assert abs(r.centroid_cos - dot / (na * nb)) < 1e-3
        assert -1.0 <= r.centroid_cos <= 1.0
