"""Pure-Python twin for cardinality_estimation."""

import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ir import _SKIP_PAIRS
from search_engine_spark.catalog.corpus import q_cardinality_estimation

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    return duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _tok(t):
    return [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]


def test_cardinality_estimation_matches_twin(spark):
    terms = sorted({t for p in _SKIP_PAIRS for t in p})
    docs_with = defaultdict(set)
    all_docs = set()
    for d, t in _docs():
        ts = set(_tok(t))
        if ts:
            all_docs.add(d)
        for x in terms:
            if x in ts:
                docs_with[x].add(d)
    n = len(all_docs)
    want = []
    for qa, qb in sorted(_SKIP_PAIRS):
        a, b = len(docs_with[qa]), len(docs_with[qb])
        act = len(docs_with[qa] & docs_with[qb])
        est = a * b / n
        want.append(
            (qa, qb, a, b, act, round(est, 4),
             round(max(est / act, act / est), 4))
        )
    got = [
        tuple(r)
        for r in q_cardinality_estimation(spark, SF_DIR).collect()
    ]
    assert got == want
    # q-error is >= 1 by definition
    assert all(r[6] >= 1.0 for r in got)
