"""Pure-Python twin and invariant for SALSA link analysis."""

import math
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.graph import _PR_RULES, q_salsa, _SALSA_ITERS

SF_DIR = "/root/testdata/sf0.001"


def _graph():
    n = duckdb.sql(
        f"SELECT count(*) FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    edges = set()
    for i in range(n):
        for m, b in _PR_RULES:
            dst = (m * i + b) % n
            if dst != i:
                edges.add((i, dst))
    return n, edges


def _salsa_twin(iters):
    _n, edges = _graph()
    ind = Counter(d for _s, d in edges)
    outd = Counter(s for s, _d in edges)
    a = {v: 1.0 / len(ind) for v in ind}
    for _ in range(iters):
        h = defaultdict(float)
        for s, d in edges:
            h[s] += a.get(d, 0.0) / ind[d]
        a2 = defaultdict(float)
        for s, d in edges:
            a2[d] += h[s] / outd[s]
        a = a2
    return a


def test_salsa_matches_python_twin(spark):
    a = _salsa_twin(_SALSA_ITERS)
    ranked = sorted(
        ((round(v, 8), k) for k, v in a.items()), key=lambda x: (-x[0], x[1])
    )[:10]
    want = [(k, v) for v, k in ranked]
    got = [
        (r.doc_id, r.salsa_auth) for r in q_salsa(spark, SF_DIR).collect()
    ]
    assert got == want


def test_salsa_conserves_probability_mass():
    # the walk is stochastic: total authority mass stays 1 every round
    for t in range(1, _SALSA_ITERS + 1):
        a = _salsa_twin(t)
        assert math.isclose(sum(a.values()), 1.0, rel_tol=1e-12)
