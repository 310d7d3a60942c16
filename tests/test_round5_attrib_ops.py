"""Pure-Python twins for facet_counts and unimax_allocation."""

import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ir import _FACET_TERM, q_facet_counts
from search_engine_spark.catalog.quality import (
    q_unimax_allocation, _UNIMAX_BUDGET_DEN, _UNIMAX_BUDGET_NUM,
    _UNIMAX_EPOCHS,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    return duckdb.connect().execute(
        f"SELECT doc_id, text, lang, source "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _tok(t):
    return [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]


def test_facet_counts_matches_twin(spark):
    hits = [
        (l, s) for _d, t, l, s in _docs() if _FACET_TERM in _tok(t)
    ]
    want = defaultdict(int)
    for l, s in hits:
        want[("lang", l)] += 1
        want[("source", s)] += 1
    got = {
        (r.facet, r.value): r.n_docs
        for r in q_facet_counts(spark, SF_DIR).collect()
    }
    assert got == dict(want)
    assert sum(v for (f, _), v in got.items() if f == "lang") == len(hits)


def test_unimax_allocation_matches_twin(spark):
    per = defaultdict(int)
    for _d, t, l, _s in _docs():
        per[l] += len(_tok(t))
    total = sum(per.values())
    b = total * _UNIMAX_BUDGET_NUM // _UNIMAX_BUDGET_DEN
    langs = sorted(per, key=lambda x: (per[x], x))
    L = len(langs)
    caps = {x: per[x] * _UNIMAX_EPOCHS for x in langs}
    pfx, capped = 0, {}
    for r, x in enumerate(langs, start=1):
        capped[x] = caps[x] * (L - r + 1) <= b - pfx
        if capped[x]:
            pfx += caps[x]
    nu = sum(1 for x in langs if not capped[x])
    tau = (b - pfx) // max(nu, 1)
    want = {}
    for x in langs:
        alloc = caps[x] if capped[x] else tau
        want[x] = (per[x], caps[x], alloc, round(alloc / per[x], 4),
                   b - pfx - tau * nu)
    got = {
        r.lang: (r.n_tokens, r.cap, r.alloc, r.epochs, r.leftover)
        for r in q_unimax_allocation(spark, SF_DIR).collect()
    }
    assert got == want
    # budget accounting: allocations + leftover = budget exactly
    lv = next(iter(got.values()))[4]
    assert sum(v[2] for v in got.values()) + lv == b
    # nobody exceeds the epoch cap
    assert all(v[2] <= v[1] for v in got.values())
