"""Pure-Python twins for crawl_makespan and lang_homophily."""

import math
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.graph import _PR_RULES, q_lang_homophily
from search_engine_spark.catalog.corpus import (
    _CRAWL_DELAY_S, _CRAWL_WORKERS, q_crawl_makespan,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    return duckdb.connect().execute(
        f"SELECT doc_id, text, lang, source "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _edges(n):
    edges = set()
    for i in range(n):
        for m, b in _PR_RULES:
            d = (m * i + b) % n
            if d != i:
                edges.add((i, d))
    return edges


def test_crawl_makespan_matches_twin(spark):
    per = defaultdict(int)
    for _d, _t, _l, s in _docs():
        per[s] += 1
    serial = {h: n * _CRAWL_DELAY_S for h, n in per.items()}
    mx = max(serial.values())
    fleet = math.ceil(sum(serial.values()) / _CRAWL_WORKERS)
    bound = max(mx, fleet)
    got = {
        r.host: (r.n_pages, r.serial_s, r.makespan_s, r.long_pole, r.share)
        for r in q_crawl_makespan(spark, SF_DIR).collect()
    }
    assert set(got) == set(per)
    for h in per:
        assert got[h] == (
            per[h], serial[h], bound, serial[h] == mx,
            round(serial[h] / bound, 4),
        )
    # the bound is genuinely a max of the two lower bounds
    assert bound >= mx and bound >= fleet


def test_lang_homophily_matches_twin(spark):
    docs = _docs()
    lang = {d: l for d, _t, l, _s in docs}
    edges = _edges(len(docs))
    m = len(edges)
    same = sum(1 for a, b in edges if lang[a] == lang[b])
    na, nb = defaultdict(int), defaultdict(int)
    for a, b in edges:
        na[lang[a]] += 1
        nb[lang[b]] += 1
    eab = sum(
        (na[l] / m) * (nb.get(l, 0) / m) for l in na
    )
    r = (same / m - eab) / (1.0 - eab)
    row = q_lang_homophily(spark, SF_DIR).collect()[0]
    assert row.n_edges == m and row.n_same_lang == same
    assert row.observed == round(same / m, 4)
    assert abs(row.expected - eab) < 1e-4
    assert abs(row.assortativity - r) < 1e-3
    # the arithmetic link graph ignores language -> r must be near 0,
    # far from perfect homophily
    assert abs(row.assortativity) < 0.2
