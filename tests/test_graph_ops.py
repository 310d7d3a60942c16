"""pagerank: damped power iteration over the synthetic link graph
(SURVEY §2 S6 — the reference's LinkEmitter side output, HtmlParser.cpp
outlink emission — with the crawl graph replaced by a deterministic
arithmetic one so a pure-Python twin and the DuckDB oracle can rebuild
it edge-for-edge)."""

import duckdb

from search_engine_spark.catalog.graph import (
    _HITS_ITERS, _KCORE_K, _KCORE_ROUNDS, _PR_DAMP, _PR_ITERS, _PR_RULES,
    q_hits, q_kcore, q_pagerank, q_triangle_count,
)
from tests.helpers import _explain

SF_DIR = "/root/testdata/sf0.001"


def _python_pagerank(ids):
    """Pure-Python twin of q_pagerank: same graph, same iteration."""
    n = len(ids)
    out = {}
    for u in ids:
        tgts = {(m * u + b) % n for m, b in _PR_RULES}
        tgts.discard(u)
        out[u] = sorted(tgts)
    r = {u: 1.0 / n for u in ids}
    for _ in range(_PR_ITERS):
        nxt = {u: 0.0 for u in ids}
        for u, tgts in out.items():
            share = r[u] / len(tgts)
            for v in tgts:
                nxt[v] += share
        base = (1.0 - _PR_DAMP) / n
        r = {u: base + _PR_DAMP * nxt[u] for u in ids}
    return r, out


def _ids():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    return [r[0] for r in rows]


def test_pagerank_matches_python_twin(spark):
    ids = _ids()
    expect, _ = _python_pagerank(ids)
    got = {
        r["doc_id"]: r["pr"]
        for r in q_pagerank(spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    # Spark returns round(r, 8); the twin is unrounded -> half-step bound
    for u in ids:
        assert abs(got[u] - expect[u]) < 1e-8, (u, got[u], expect[u])


def test_pagerank_graph_has_no_dangling_nodes_and_is_skewed(spark):
    ids = _ids()
    r, out = _python_pagerank(ids)
    # ring edge guarantees out-degree >= 1 -> dangling-mass term is zero
    assert all(len(t) >= 1 for t in out.values())
    # with no dangling nodes the teleport term conserves total mass
    assert abs(sum(r.values()) - 1.0) < 1e-9
    # the non-invertible maps concentrate in-degree: distribution must be
    # genuinely non-uniform (a circulant-only graph would be flat)
    vals = sorted(r.values())
    assert vals[-1] > 2.0 * vals[0]


def test_pagerank_plan_shape(spark):
    df = q_pagerank(spark, SF_DIR)
    plan = _explain(df)
    # the 1-row N side enters as a broadcast, never a shuffled join
    assert "BroadcastExchange" in plan
    # no bare cartesian product anywhere in 8 unrolled iterations
    assert "CartesianProduct" not in plan


def _python_hits(ids):
    """Pure-Python twin of q_hits: integer power iteration, one final
    L1 normalization."""
    n = len(ids)
    out = {
        u: sorted({(m * u + b) % n for m, b in _PR_RULES} - {u})
        for u in ids
    }
    inn = {u: [] for u in ids}
    for u, tgts in out.items():
        for v in tgts:
            inn[v].append(u)
    h = {u: 1 for u in ids}
    a = {}
    for _ in range(_HITS_ITERS):
        a = {v: sum(h[u] for u in inn[v]) for v in ids}
        h = {u: sum(a[v] for v in out[u]) for u in ids}
    return a, h


def test_hits_matches_python_twin(spark):
    ids = _ids()
    a, h = _python_hits(ids)
    # every intermediate is an exact integer in the twin by construction
    assert all(isinstance(v, int) for v in a.values())
    asum, hsum = sum(a.values()), sum(h.values())
    got = {
        r["doc_id"]: (r["auth"], r["hub"])
        for r in q_hits(spark, SF_DIR).collect()
    }
    assert set(got) == set(ids)
    for u in ids:
        ga, gh = got[u]
        assert abs(ga - a[u] / asum) < 1e-8, (u, ga, a[u] / asum)
        assert abs(gh - h[u] / hsum) < 1e-8, (u, gh, h[u] / hsum)


def test_hits_scores_are_normalized_and_skewed(spark):
    rows = q_hits(spark, SF_DIR).collect()
    sa = sum(r["auth"] for r in rows)
    sh = sum(r["hub"] for r in rows)
    assert abs(sa - 1.0) < 1e-5 and abs(sh - 1.0) < 1e-5
    # in-degree skew must show up as authority skew
    auths = sorted(r["auth"] for r in rows)
    assert auths[-1] > 2.0 * auths[0]


def test_hits_plan_shape(spark):
    df = q_hits(spark, SF_DIR)
    plan = _explain(df)
    # the two 1-row normalization sums enter as broadcasts, and the
    # iteration itself must never degenerate to a cartesian product
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_matches_brute_force(spark):
    ids = _ids()
    n = len(ids)
    E = set()
    for u in ids:
        for m, b in _PR_RULES:
            v = (m * u + b) % n
            if v != u:
                E.add((min(u, v), max(u, v)))
    adj = {}
    for a, b in E:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(len(adj[a] & adj[b]) for a, b in E) // 3
    deg = {v: len(adj[v]) for v in adj}
    # wedges = sum over orientation centers of C(outdeg, 2)
    out = {}
    for a, b in E:
        u, v = (a, b) if (deg[a], a) < (deg[b], b) else (b, a)
        out[u] = out.get(u, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in out.values())
    (r,) = q_triangle_count(spark, SF_DIR).collect()
    assert r["n_triangles"] == tri
    assert r["n_wedges"] == wedges
    assert tri > 0  # the arithmetic graph genuinely closes triangles


def _und_adj(ids):
    n = len(ids)
    E = set()
    for u in ids:
        for m, b in _PR_RULES:
            v = (m * u + b) % n
            if v != u:
                E.add((min(u, v), max(u, v)))
    adj = {}
    for a, b in E:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return E, adj


def test_kcore_matches_python_twin_and_reaches_fixpoint(spark):
    ids = _ids()
    _, adj = _und_adj(ids)
    keep = set(adj)
    history = []
    for _ in range(_KCORE_ROUNDS + 1):  # one EXTRA round
        keep = {v for v in keep if len(adj[v] & keep) >= _KCORE_K}
        history.append(set(keep))
    # fixpoint within the operator's round budget
    assert history[_KCORE_ROUNDS] == history[_KCORE_ROUNDS - 1]
    expect = {
        v: len(adj[v] & history[_KCORE_ROUNDS - 1])
        for v in history[_KCORE_ROUNDS - 1]
    }
    got = {
        r["doc_id"]: r["core_deg"]
        for r in q_kcore(spark, SF_DIR).collect()
    }
    assert got == expect
    # the peel actually removes something (the core is non-trivial)
    assert 0 < len(expect) < len(ids)
