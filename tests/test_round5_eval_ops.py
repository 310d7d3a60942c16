"""Pure-Python twin for degree_histogram."""

from collections import defaultdict

import duckdb

from search_engine_spark.catalog.graph import _PR_RULES, q_degree_histogram

SF_DIR = "/root/testdata/sf0.001"


def _edges():
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    edges = set()
    for i in range(n):
        for m, b in _PR_RULES:
            d = (m * i + b) % n
            if d != i:
                edges.add((i, d))
    return n, edges


def test_degree_histogram_matches_twin(spark):
    _n, edges = _edges()
    outd, ind = defaultdict(int), defaultdict(int)
    for s, d in edges:
        outd[s] += 1
        ind[d] += 1
    no, ni = defaultdict(int), defaultdict(int)
    for d in outd.values():
        no[d.bit_length() - 1] += 1
    for d in ind.values():
        ni[d.bit_length() - 1] += 1
    want = {
        b: (no.get(b, 0), ni.get(b, 0)) for b in set(no) | set(ni)
    }
    got = {
        r.bucket: (r.n_out, r.n_in)
        for r in q_degree_histogram(spark, SF_DIR).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == len(outd)
    assert sum(v[1] for v in got.values()) == len(ind)
